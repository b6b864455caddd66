package graft

import graft.fuzz.StreamFuzz
import org.scalatest.funsuite.AnyFunSuite

/** The streaming fuzz registry without a SparkSession: generation,
  * twin lookup and params lookup resolve every seed through one family
  * table, the oracle SQL does not depend on the drive config, and the
  * QueryFuzz-owned seed gap is refused everywhere. Nothing here builds
  * a DataFrame (`generate` is lazy until `build` runs).
  */
class StreamFuzzRegistrySpec extends AnyFunSuite {
  import StreamFuzz.{DriveCfg, MultiCfg, RestartCfg}

  private val allSeeds = (StreamFuzz.registeredSeeds ++
    StreamFuzz.restartSeeds ++ StreamFuzz.multiSeeds).distinct

  test("oracle SQL is cfg-independent for every registered, restart and " +
      "multi seed") {
    allSeeds.foreach { s =>
      val plain = StreamFuzz.generate(s).sql
      assert(StreamFuzz.generate(s, RestartCfg).sql == plain, s"seed $s restart")
      assert(StreamFuzz.generate(s, MultiCfg).sql == plain, s"seed $s multi")
      assert(StreamFuzz.generate(s, DriveCfg(tag = "x")).sql == plain, s"seed $s tag")
    }
  }

  test("every family floor resolves to one family in generation, twin " +
      "lookup and params lookup") {
    val floors = StreamFuzz.families.map(_.floor)
    assert(floors == floors.sorted && floors.distinct == floors)
    assert(StreamFuzz.families.map(_.name) ==
      "ABCDEFGHIJKLMNOPQRSTUV".map(_.toString))
    // the params' case class of each family, as the parent dispatch had it
    val paramClass = Seq("AggP", "QuotaP", "SessionP", "JoinP", "DedupP",
      "DedupWmP", "JoinP", "ChainP", "UnionP", "AggAggP", "Chain3P",
      "TwsJoinP", "DedupAggP", "JoinJoinP", "DedupJoinP", "AggJoinP",
      "AggJoinP", "UnionJoinP", "TwsAggP", "DedupSessP", "JoinDedupP",
      "SessRollupP")
    StreamFuzz.families.zip(paramClass).foreach { case (f, cls) =>
      Seq(f.floor, f.floor + 1, f.floor + 499).foreach { s =>
        assert(StreamFuzz.familyFor(s) eq f, s"seed $s")
        assert(StreamFuzz.paramsFor(s) == f.params(s), s"seed $s params")
        assert(StreamFuzz.paramsFor(s).productPrefix == cls, s"seed $s class")
        assert(StreamFuzz.generate(s).sql == f.gen(s, DriveCfg()).sql, s"seed $s sql")
        assert(StreamFuzz.twinFor(s) != null, s"seed $s twin")
      }
    }
    // G (and Q) carry the join types their floors define
    assert(StreamFuzz.paramsFor(StreamFuzz.JoinExtSeedFloor).toString
      .contains("full_outer"))
    assert(StreamFuzz.paramsFor(StreamFuzz.AggSeedFloor - 1).productPrefix == "AggP")
  }

  test("a seed in the QueryFuzz-owned [20000, 40000) range throws on all " +
      "three lookups") {
    Seq(StreamFuzz.BatchOwnedFloor, 26000L, StreamFuzz.AggJoinOuterSeedFloor - 1)
      .foreach { s =>
        intercept[IllegalArgumentException](StreamFuzz.generate(s))
        intercept[IllegalArgumentException](StreamFuzz.twinFor(s))
        intercept[IllegalArgumentException](StreamFuzz.paramsFor(s))
      }
  }

  test("queryNames, queries and oracles name the same drives") {
    assert(StreamFuzz.queryNames == StreamFuzz.queries.keySet)
    assert(StreamFuzz.queries.keySet == StreamFuzz.oracles.keySet)
    assert(StreamFuzz.queryNames.size == StreamFuzz.registeredSeeds.size +
      StreamFuzz.restartSeeds.size + StreamFuzz.multiSeeds.size)
  }
}
