package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.types.DataType

/** Driver collects with a row cap, and the local-solve gate built on one. */
object Bounded {

  /** Every row of `ds` when it has at most `cap`, else None: one
    * `limit(cap + 1)` job, so the driver never takes in more than cap + 1
    * rows. Caps past the largest JVM array clamp to it. */
  def collect[T](ds: Dataset[T], cap: Long): Option[Array[T]] =
    if (cap < 0) None
    else {
      val c = math.min(cap, Int.MaxValue - 1L)
      val rows = ds.limit(c.toInt + 1).collect()
      if (rows.length > c) None else Some(rows)
    }

  /** [[collect]] for callers without a fallback: over the cap fails with `msg`. */
  def collectOrFail[T](ds: Dataset[T], cap: Long)(msg: => String): Array[T] = {
    val rows = collect(ds, cap)
    require(rows.isDefined, msg)
    rows.get
  }

  /** Materializes two-column `edges` once and returns it with its rows when
    * they fit `cap`, no endpoint is NULL and both endpoint types equal each
    * other and `rootType`. An in-memory solve compares boxed ids with
    * `equals`, which reproduces neither the numeric promotion nor the null
    * rejection of a `===` join, so every other input takes the caller's
    * distributed loop over the returned materialization. */
  def localGate(edges: DataFrame, cap: Long, rootType: Option[DataType] = None)
      : (DataFrame, Option[Array[Row]]) = {
    val e = edges.localCheckpoint()
    val oneType = (e.schema.map(_.dataType) ++ rootType).distinct.size == 1
    (e, if (oneType) collect(e, cap).filterNot(_.exists(_.anyNull)) else None)
  }
}
