package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The part of `graft.Bench`'s shared-frame warm-up that the benchmark's
  * graph queries read (`q_kcore` reads the symmetrised edge spine). The
  * builders are private to `graft`, so the benchmark reaches them here. */
object PerfbenchShared {
  val parts: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "transfer_edges_sym" -> ops.Wallet.transferEdgesSym)
}
