package graft.operators

import graft.etl.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** CorpusSharder: the deterministic shuffle + fixed-size shard
  * emission. The assignment math (exact global rank from pid-local
  * row_number + prefix offsets) is checked against a driver-side
  * full sort; the writer half is checked on disk — one sorted file
  * per shard, shard contents ≡ manifest ranges.
  */
class CorpusSharderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def knuth(id: Long): Long =
    java.lang.Math.floorMod(id * 2654435761L, 4294967296L)

  test("assignments = driver-computed pseudorandom total order") {
    import spark.implicits._
    // non-contiguous ids so the hash order differs visibly from id order
    val ids = Seq(3L, 11L, 29L, 40L, 57L, 61L, 88L, 90L, 104L, 131L, 999L)
    val df = ids.map(i => (i, s"w$i a b", "s0")).toDF("doc_id", "text", "source")
    val got = CorpusSharder.assignments(df, 4L)
      .select("doc_id", "rank", "shard_id", "n_tok")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._2)
    val expectedOrder = ids.sortBy(i => (knuth(i), i))
    assert(got.map(_._1).toSeq == expectedOrder)
    assert(got.map(_._2).toSeq == (1L to ids.size))
    assert(got.map(_._3).toSeq == (1L to ids.size).map(r => (r - 1) / 4))
    assert(got.forall(_._4 == 3L)) // "wN a b" -> 3 tokens
  }

  test("order key is overflow-safe past the ANSI int64 multiply bound") {
    import spark.implicits._
    // ids where doc_id · 2654435761 ≥ 2⁶³ — the naive ANSI multiply
    // raises ARITHMETIC_OVERFLOW; the split-multiplier form (Q.knuth32)
    // must evaluate AND match the BigInt-exact key
    val ids = Seq(3474840000L, 5000000000L, (1L << 33) + 7L, Long.MaxValue / 3)
    val df = ids.map(i => (i, "a b c", "s0")).toDF("doc_id", "text", "source")
    import org.apache.spark.sql.functions.col
    val got = df.select(col("doc_id"), graft.queries.Q.knuth32(col("doc_id")).as("skey"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { i =>
      val exact = ((BigInt(i) * BigInt(2654435761L)) mod BigInt(4294967296L)).toLong
      assert(got(i) == exact, s"id $i")
    }
    // and the full assignment pass runs on those ids (the old form threw)
    val ranks = CorpusSharder.assignments(df, 2L)
      .select("rank").collect().map(_.getLong(0)).sorted
    assert(ranks.toSeq == (1L to ids.size))
  }

  test("writer: one sorted file per shard, contents match the manifest") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_c09").toString
    val df = (1L to 53L).map(i => (i, s"doc $i text", "s0"))
      .toDF("doc_id", "text", "source")
    CorpusSharder.write(df, 10L, out)
    val manifest = spark.read.parquet(s"$out/manifest")
      .collect().map(r => (r.getAs[Long]("shard_id"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("first_rank"), r.getAs[Long]("last_rank"))).sortBy(_._1)
    assert(manifest.map(_._1).toSeq == (0L to 5L))
    assert(manifest.map(_._2).sum == 53L)
    assert(manifest.forall { case (sid, n, lo, hi) =>
      lo == sid * 10 + 1 && hi == lo + n - 1 })
    // each shard directory holds exactly ONE parquet file, sorted by
    // rank, with exactly the manifest's rank range
    manifest.foreach { case (sid, _, lo, hi) =>
      val dir = new java.io.File(s"$out/shards/shard_id=$sid")
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"shard $sid has ${files.length} files")
      val ranks = spark.read.parquet(files(0).getPath)
        .select(col("rank")).collect().map(_.getLong(0))
      assert(ranks.toSeq == (lo to hi), s"shard $sid ranks off")
    }
    // the full shard set reconstructs the corpus exactly once
    val all = spark.read.parquet(s"$out/shards")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(all.toSeq == (1L to 53L))
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try s.forEach(rm(_)) finally s.close()
      }
      java.nio.file.Files.deleteIfExists(p)
    }
    rm(java.nio.file.Paths.get(out))
  }
}
