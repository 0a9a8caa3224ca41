package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [onlyPrefixes] — the optional third arg is a
    // comma list of query-name prefixes for tight fix-verify loops
    // (mirrors SPARK_GRAFT_BENCH_ONLY); driver runs pass exactly two.
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [onlyPrefixes]")
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Array[String]] =
      args.drop(2).headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty))
    // the bench's own session (AQE, 512 initial partitions): the oracle
    // checks the adaptive plans that are timed, not a second config
    val spark = graft.tools.ToolSession.local()
    new java.io.File(outDir).mkdirs()
    val selected = only match {
      case Some(ps) => SparkEntry.queries.filter { case (n, _) => ps.exists(n.startsWith) }
      case None     => SparkEntry.queries
    }
    // a filter that matches nothing must fail LOUDLY: exiting zero after
    // writing nothing would let tools/check.py re-validate STALE parquet
    // from a previous run — a false PASS in exactly the fix-verify loop
    // the filter exists for
    require(selected.nonEmpty,
      s"query filter '${args.drop(2).headOption.getOrElse("")}' matched no queries")
    // stale-extras guard (ADVICE r12): the deflate write below catches its
    // own failure and only logs, so an artifact left by a PREVIOUS run at
    // this outDir would be re-validated by tools/check.py as a false PASS.
    // Deleting up front means a failed (or skipped) write leaves nothing.
    if (selected.contains("q192_compression_signal")) {
      def rm(f: java.io.File): Unit = {
        // listFiles() returns NULL (not empty) on an I/O or permission
        // failure — guard so the cleanup can't NPE the whole verify run
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(); ()
      }
      val extras = new java.io.File(s"$outDir.extras")
      if (extras.exists()) rm(extras)
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // deflate-VALUED artifact for tools/check.py's Python-zlib arm
    // (VERDICT r11 #7): written OUTSIDE outDir — the driver enumerates
    // outDir subdirs, and an oracle-less extra dir there would register
    // as exactly the no_oracle row the q192 split removes. Written
    // whenever the deflate query ran, so check.py can require it then.
    if (selected.contains("q192_compression_signal"))
      try graft.text.TextOps.compressionStats(spark,
          graft.core.Tables.documents(spark, sfDir), "doc_id", "text")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir.extras/deflate_bytes")
      catch { case e: Throwable =>
        System.err.println(s"[verify] deflate extras failed: ${e.getMessage}")
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
