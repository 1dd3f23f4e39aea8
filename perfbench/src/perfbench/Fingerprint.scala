package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

/** Runs a query's own plan to completion and reduces every output row to an
  * order-independent fingerprint: row count plus two sums of 64-bit row
  * hashes over the rows' binary form. Every column of every row is
  * computed, as a consumer reading the result would, and two outputs match
  * exactly when they hold the same multiset of rows. */
object Fingerprint {
  def apply(df: DataFrame): String = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n, a, b = 0L
      while (rows.hasNext) {
        val u = proj(rows.next())
        val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1; a += h; b += mix(h)
      }
      Iterator((n, a, b))
    }.collect()
    val (n, a, b) = parts.foldLeft((0L, 0L, 0L)) { case ((n0, a0, b0), (n1, a1, b1)) =>
      (n0 + n1, a0 + a1, b0 + b1)
    }
    f"$n-$a%016x-$b%016x"
  }

  /** splitmix64 finalizer: a second, independent hash of the row hash. */
  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
