package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Repository hygiene tripwires.
  *
  * Every `SPARK_GRAFT_*` environment setting the engine reads is listed
  * in [[KnobAllowlist]] with its reason, so a new dev-only knob fails the
  * default suite instead of accreting silently.
  *
  * Raw control bytes in a .scala source make `grep`/`diff` classify the
  * whole file as binary (`Binary file matches`), which silently hides it
  * from every text-tool sweep — including external audit greps. Round 7
  * shipped three literal NUL bytes inside string literals in
  * EventOps.scala (streaming sentinel keys); they are now written as
  * backslash-u0000 escapes. This spec keeps it that way for every source file.
  */
class RepoHygieneSpec extends AnyFunSuite {

  /** The `SPARK_GRAFT_*` settings `src/main` may read. */
  private val KnobAllowlist = Set(
    // fixture dir Bench and QueryMeter run against (deployment path)
    "SPARK_GRAFT_SF_DIR",
    // local[N] width of every entry point's session (host shape)
    "SPARK_GRAFT_CPUS",
    // Verify's per-query watchdog deadline (host speed)
    "SPARK_GRAFT_QUERY_TIMEOUT_MS",
    // where Bench writes bench_detail.json (output path)
    "SPARK_GRAFT_BENCH_DETAIL",
    // PlanManifest: fingerprint the batch queries only (tool mode)
    "SPARK_GRAFT_MANIFEST_BATCH_ONLY",
    // PlanManifest: dir for per-query plan token dumps (output path)
    "SPARK_GRAFT_PLAN_DEBUG",
    // QueryMeter: plan file name suffix (output path)
    "SPARK_GRAFT_EXPLAIN_SUFFIX",
    // QueryMeter: extra session confs for A/B runs (the one conf hook)
    "SPARK_GRAFT_EXTRA_CONF")

  test("src/main reads no SPARK_GRAFT_* setting outside the allowlist") {
    val read = scalaSources("src/main").flatMap { p =>
      "\"(SPARK_GRAFT_[A-Z0-9_]+)\"".r
        .findAllMatchIn(Files.readString(p)).map(_.group(1))
    }.toSet
    assert(read == KnobAllowlist,
      s"unlisted: ${(read -- KnobAllowlist).toSeq.sorted}; " +
        s"listed but unread: ${(KnobAllowlist -- read).toSeq.sorted}")
  }

  private def scalaSources(root: String): Seq[Path] = {
    val base = Paths.get(root)
    if (!Files.isDirectory(base)) Seq.empty
    else Files.walk(base).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq
  }

  test("no raw control bytes in any .scala source (text-tool safety)") {
    val offenders = (scalaSources("src/main") ++ scalaSources("src/test"))
      .flatMap { p =>
        val bytes = Files.readAllBytes(p)
        // allowed control bytes in a text file: \n, \r, \t
        val bad = bytes.zipWithIndex.collect {
          case (b, i) if (b & 0xff) < 0x20 && b != '\n' && b != '\r' && b != '\t' =>
            s"$p@$i=0x${"%02x".format(b)}"
        }
        bad.take(3)
      }
    assert(offenders.isEmpty,
      s"raw control bytes found (write them as \\uXXXX escapes): " +
        offenders.mkString(", "))
  }
}
