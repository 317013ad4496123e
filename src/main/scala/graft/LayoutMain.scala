package graft

/** One-time materialization of the co-located bucketed fact layout
  * ([[graft.etl.BucketedLayout]]) for an SF dir — the ingest-side
  * write that every later session amortizes via DDL re-registration.
  *
  * Usage: runMain graft.LayoutMain <sfDir>
  */
object LayoutMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    val t0 = System.nanoTime()
    val tables = graft.etl.BucketedLayout.ensure(spark, sfDir)
    println(f"[layout] bucketed ${tables.values.mkString(", ")} in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
