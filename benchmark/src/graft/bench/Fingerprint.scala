package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** Row count and order-sensitive hash of a query's full result. */
final case class Fingerprint(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

/** Evaluates a result once and folds it into a [[Fingerprint]].
  *
  * `count()` is not a timing action: Catalyst prunes every projected
  * column and drops the final sort, so a lazy query would be timed as a
  * bare row count. Here each row of the executed plan is projected to its
  * canonical UnsafeRow bytes (every column evaluated, the final ORDER BY
  * kept) and hashed inside the same job. Partitions fold with a
  * polynomial chain, h(A ++ B) = h(A) * P^|B| + h(B), so the hash depends
  * on the global row order but not on how the rows are split into
  * partitions.
  */
object Fingerprint {
  private val P = 0x100000001b3L

  private def pow(base: Long, exp: Long): Long = {
    var r = 1L; var b = base; var e = exp
    while (e > 0) { if ((e & 1L) == 1L) r *= b; b *= b; e >>= 1 }
    r
  }

  /** Fold partition-level (rows, hash) pairs, given in partition order. */
  def combine(parts: Seq[(Long, Long)]): Fingerprint =
    parts.foldLeft(Fingerprint(0L, 0L)) { case (acc, (n, h)) =>
      Fingerprint(acc.rows + n, acc.hash * pow(P, n) + h)
    }

  /** Hash of one row's bytes, chained onto `h`. */
  def step(h: Long, base: AnyRef, offset: Long, size: Int): Long =
    h * P + XXH64.hashUnsafeBytes(base, offset, size, 42L)

  def of(df: DataFrame): Fingerprint = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("fingerprint")) {
      qe.toRdd.mapPartitionsWithIndex { (i, rows) =>
        val proj = UnsafeProjection.create(schema)
        var h = 0L
        var n = 0L
        while (rows.hasNext) {
          val r = proj(rows.next())
          h = step(h, r.getBaseObject, r.getBaseOffset, r.getSizeInBytes)
          n += 1
        }
        Iterator((i, n, h))
      }.collect()
    }
    combine(parts.sortBy(_._1).map { case (_, n, h) => (n, h) }.toSeq)
  }
}
