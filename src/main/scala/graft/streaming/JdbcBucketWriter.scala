package graft.streaming

import java.sql.{Connection, PreparedStatement, SQLException}
import scala.annotation.tailrec
import scala.collection.mutable
import scala.util.Using
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils

/** The executor side of the JDBC upsert sinks: one task's hash buckets,
  * each a `(bucket, rows)` pair whose rows are `InternalRow`s laid out
  * `(ts TIMESTAMP, lat DOUBLE, lon DOUBLE, hourly_precipitation DOUBLE)`.
  * The bucket id is the partition index of the sink's key exchange (see
  * `WeatherStreamJob.ExactlyOncePartitions`).
  *
  * The task opens one connection. Each non-empty bucket is its own
  * transaction, in this order: ledger check, upserts (UPDATE, INSERT on
  * miss), ledger mark, commit. With `ledger = None` (the plain upsert
  * sink) the check and mark are left out. A bucket whose
  * `(sink, batch_id, partition_id)` mark already exists is skipped: its
  * rows and mark were committed together by an earlier attempt of the
  * same batch. A bucket id that arrives twice fails the task before
  * anything of the second run is written; the ledger would otherwise
  * skip those rows as already applied.
  *
  * A transaction that fails with a transient rollback (SQLState class 40:
  * deadlock, lock timeout, e.g. Derby `40XL1`) is rolled back and replayed
  * from the bucket's buffered fields, at most [[JdbcBucketWriter.MaxAttempts]]
  * times. That is safe because the rows and the mark commit atomically.
  *
  * A named class rather than a closure, so the task binary carries only
  * these fields; reading `InternalRow`s directly spares each task the Row
  * deserializer and the projection Spark would generate for it.
  *
  * `connect` is the connection factory (a test seam for fault injection).
  */
final class JdbcBucketWriter(url: String, table: String, ledger: Option[String],
    batchId: Long, connect: String => Connection)
    extends (Iterator[(Int, Iterator[InternalRow])] => Unit) with Serializable {
  import JdbcBucketWriter._

  def apply(buckets: Iterator[(Int, Iterator[InternalRow])]): Unit = {
    val nonEmpty = buckets.filter(_._2.hasNext)
    if (nonEmpty.hasNext) write(nonEmpty)
  }

  private def write(buckets: Iterator[(Int, Iterator[InternalRow])]): Unit = {
    val conn = connect(url)
    var done = false
    try {
      conn.setAutoCommit(false)
      ledger.foreach(l => requireUniqueKey(conn, url, l,
        Seq("sink", "batch_id", "partition_id"), "exactly-once ledger",
        "racing bucket attempts abort instead of double-applying"))
      requireUniqueKey(conn, url, table, UpsertKey, "upsert table",
        "concurrent bucket transactions not to deadlock on its scans")
      Using.Manager { use =>
        val upd = use(conn.prepareStatement(
          s"""UPDATE $table SET "hourly_precipitation" = ?
             | WHERE "timestamp" = ? AND "lat" = ? AND "lon" = ?""".stripMargin))
        val ins = use(conn.prepareStatement(
          s"""INSERT INTO $table ("timestamp", "lat", "lon", "hourly_precipitation")
             | VALUES (?, ?, ?, ?)""".stripMargin))
        val chk = ledger.map(l => use(conn.prepareStatement(
          s"""SELECT 1 FROM $l WHERE "sink" = ? AND "batch_id" = ? AND "partition_id" = ?""")))

        // one bucket's transaction: ledger check, upserts, mark, commit
        def transact(bucket: Int, ts: Array[Long], vals: Array[Double]): Unit = {
          val applied = chk.exists { st =>
            st.setString(1, table); st.setLong(2, batchId); st.setInt(3, bucket)
            Using.resource(st.executeQuery())(_.next())
          }
          if (applied) conn.rollback() // end the check's read transaction
          else {
            upsert(ts, vals, upd, ins)
            // prepared only now, after the upserts, so a failure while
            // preparing it falls in the window between upserts and mark
            ledger.foreach { l =>
              Using.resource(conn.prepareStatement(
                  s"""INSERT INTO $l ("sink", "batch_id", "partition_id") VALUES (?, ?, ?)""")) { mark =>
                mark.setString(1, table); mark.setLong(2, batchId); mark.setInt(3, bucket)
                mark.executeUpdate()
              }
            }
            conn.commit() // rows + ledger mark are atomic
          }
        }

        val seen = mutable.BitSet.empty
        val ts = new mutable.ArrayBuilder.ofLong
        val vals = new mutable.ArrayBuilder.ofDouble // lat, lon, precip per row
        buckets.foreach { case (bucket, rows) =>
          if (!seen.add(bucket)) throw new IllegalStateException(
            s"bucket $bucket arrived twice in one task; its second run was not written")
          ts.clear(); vals.clear()
          rows.foreach { row =>
            if (row.anyNull) throw new IllegalArgumentException(
              s"null key or value in bucket $bucket: a null cannot be upserted")
            ts += row.getLong(0)
            vals += row.getDouble(1) += row.getDouble(2) += row.getDouble(3)
          }
          val (bucketTs, bucketVals) = (ts.result(), vals.result())
          retrying(conn)(transact(bucket, bucketTs, bucketVals))
        }
      }.get
      done = true
    } finally {
      // a failed task must leave nothing behind: roll back the open
      // transaction before close (embedded drivers like Derby refuse to
      // close a connection with an active transaction). On the failure
      // path both calls are guarded so the original exception propagates.
      if (!done) {
        try conn.rollback() catch { case _: Exception => () }
        try conn.close() catch { case _: Exception => () }
      } else conn.close()
    }
  }

  /** Per-row statements on purpose. JDBC batching (`addBatch` /
    * `executeBatch` for the UPDATEs, then the missed keys' INSERTs) was
    * measured and not shipped: a standalone harness on embedded Derby
    * 10.16, with the unique-key DDL the benchmark uses and 16 buckets on
    * 4 threads, warm, costs 108-132 ms per 5000-row batch of all-new keys
    * with per-row statements and 100-120 ms batched; a 250-row hot-key
    * batch costs 7-9 ms either way. Embedded Derby has no network round
    * trip for batching to save, so batching ships only with a rows/s gain
    * measured against a networked database.
    */
  private def upsert(ts: Array[Long], vals: Array[Double], upd: PreparedStatement,
      ins: PreparedStatement): Unit = {
    var i = 0
    while (i < ts.length) {
      val t = DateTimeUtils.toJavaTimestamp(ts(i))
      val lat = vals(3 * i); val lon = vals(3 * i + 1); val precip = vals(3 * i + 2)
      upd.setDouble(1, precip); upd.setTimestamp(2, t)
      upd.setDouble(3, lat); upd.setDouble(4, lon)
      if (upd.executeUpdate() == 0) {
        ins.setTimestamp(1, t); ins.setDouble(2, lat)
        ins.setDouble(3, lon); ins.setDouble(4, precip)
        ins.executeUpdate()
      }
      i += 1
    }
  }
}

object JdbcBucketWriter {

  /** Attempts per bucket transaction under transient rollbacks. */
  val MaxAttempts = 3

  /** Base of the linear backoff between attempts (plus up to as much
    * jitter, so buckets that collided do not collide again in step). */
  private val BackoffMs = 20L

  /** Runs the transaction `txn` on `conn`; after a transient rollback
    * (SQLState class 40) rolls back and runs it again, up to
    * [[MaxAttempts]] attempts in all. Any other failure propagates.
    */
  @tailrec private def retrying(conn: Connection, attempt: Int = 1)(txn: => Unit): Unit = {
    val retry =
      try { txn; false }
      catch {
        case e: SQLException if attempt < MaxAttempts &&
            Option(e.getSQLState).exists(_.startsWith("40")) =>
          conn.rollback()
          Thread.sleep(BackoffMs * attempt +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(BackoffMs))
          true
      }
    if (retry) retrying(conn, attempt + 1)(txn)
  }

  /** The sinks' upsert key on the target table. */
  private val UpsertKey = Seq("timestamp", "lat", "lon")

  // one verification per (url, table) per JVM; a failed check is not
  // cached so every task re-checks and re-throws until the DDL is fixed
  private val keyVerified =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Require a UNIQUE index (or PK) on exactly `cols` of `table`, probed
    * once per (url, table) per JVM.
    *
    *  - The exactly-once ledger needs one on ("sink", "batch_id",
    *    "partition_id"). Without it, two racing attempts for one bucket
    *    could both pass the existence check and both commit — the
    *    constraint is what turns the second mark into a transaction
    *    abort.
    *  - The upsert table needs one on ("timestamp", "lat", "lon").
    *    Without it every UPDATE scans the table, and the concurrent
    *    bucket transactions deadlock on each other's row locks (embedded
    *    Derby) instead of failing.
    *
    * The metadata probe passes a null schema (searches the connection's
    * default/search-path scope): if the target store resolves the table
    * through a search path AND another schema holds a same-named keyed
    * table, the probe could validate the wrong one — qualify the table
    * name (`schema.table`) in such deployments.
    */
  private def requireUniqueKey(conn: Connection, url: String, table: String,
      cols: Seq[String], role: String, why: String): Unit = {
    val key = s"$url#$table"
    if (!keyVerified.contains(key)) {
      val md = conn.getMetaData
      val need = cols.toSet
      // identifier case differs per store (Derby/Postgres fold unquoted
      // names differently), so probe the spellings
      val ok = Seq(table, table.toUpperCase, table.toLowerCase).distinct
        .exists { t =>
          Using.resource(md.getIndexInfo(null, null, t, true, false)) { rs =>
            val idxCols = mutable.Map.empty[String, mutable.Set[String]]
            while (rs.next()) {
              val idx = rs.getString("INDEX_NAME")
              val c = rs.getString("COLUMN_NAME")
              if (idx != null && c != null)
                idxCols.getOrElseUpdate(idx, mutable.Set.empty) += c.toLowerCase
            }
            idxCols.values.exists(_ == need)
          }
        }
      if (!ok) throw new IllegalStateException(
        s"$role '$table' lacks a unique key on " +
          cols.map(c => s""""$c"""").mkString("(", ", ", ")") +
          s" — required for $why")
      keyVerified.add(key)
    }
  }
}
