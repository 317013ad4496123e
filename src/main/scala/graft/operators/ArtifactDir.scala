package graft.operators

/** Single owner of the keyed-artifact-dir rule shared by every
  * persisted operator artifact (IVF postings, decontamination index,
  * BPE tokenizer, dedup band postings, tree model): one fixed dir
  * under the JVM temp root, keyed by the corpus identity — the
  * canonical sfDir path plus the key table file's mtime and length.
  * Repeated bench/gate runs in a session — or across sessions on
  * unchanged data — reuse the same dir instead of accumulating fresh
  * temp copies; a data change (regenerated parquet, different SF)
  * changes the key and forces a rebuild in a new dir.
  *
  * The key hash is FNV-1a-style over the key string — stable across
  * JVMs (no String.hashCode dependence), collision-irrelevant at the
  * handful-of-corpora scale the temp root ever holds.
  */
object ArtifactDir {

  /** Content-coupled identity of the key table. For a single-file
    * parquet this is its (mtime, length). For a DIRECTORY parquet
    * (Spark-written corpora) the directory's own mtime/length are NOT
    * content-coupled — length is a filesystem block size and the
    * mtime granularity can swallow an in-place regeneration — so the
    * signature is taken over the files inside, RECURSIVELY (a
    * partitioned layout nests part files under key=… subdirs; a
    * top-level-only walk would degenerate to `_SUCCESS` alone): their
    * count, the sum of their lengths, and the newest mtime among them
    * (which includes `_SUCCESS`, stamped last by the committer). */
  private def signature(f: java.io.File): String =
    if (f.isDirectory) {
      def walk(d: java.io.File): Array[java.io.File] =
        Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
          .flatMap(c => if (c.isDirectory) walk(c) else Array(c))
      val parts = walk(f)
      val total = parts.map(_.length).sum
      val newest = if (parts.isEmpty) 0L else parts.map(_.lastModified).max
      s"d|${parts.length}|$total|$newest"
    } else s"f|${f.lastModified}|${f.length}"

  /** `graft_<prefix>_<hash>` under java.io.tmpdir, keyed by
    * `sfDir/keyFile`'s identity. */
  def dirFor(sfDir: String, keyFile: String, prefix: String): String = {
    val f = new java.io.File(sfDir, keyFile)
    val key = s"${new java.io.File(sfDir).getCanonicalPath}|${signature(f)}"
    val h = java.lang.Long.toHexString(
      key.getBytes("UTF-8").foldLeft(1469598103934665603L)((a, b) => a * 1000003L + (b & 0xFF)))
    new java.io.File(System.getProperty("java.io.tmpdir"), s"graft_${prefix}_$h").getAbsolutePath
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Deletes `p` and everything under it, closing every directory
    * stream it opens. Never throws — it runs in `finally` blocks and
    * shutdown hooks, where a throw would mask the exception in flight —
    * and logs each path it could not delete at WARN instead. */
  def deleteTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, LinkOption}
    try {
      if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
        val ls = Files.list(p)
        try ls.forEach(deleteTree(_)) finally ls.close()
      }
      Files.deleteIfExists(p): Unit
    } catch {
      case scala.util.control.NonFatal(e) => log.warn(s"could not delete $p", e)
    }
  }
}
