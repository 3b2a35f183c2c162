package graft

import org.apache.spark.sql.SparkSession

import graft.pipeline.{Pipeline, Retriever, SearchMode}

/** CLI façade mirroring the reference's `scripts/run_pipeline.py`
  * subcommands (process / list / search / context / stats / delete), plus
  * `sql` for ad-hoc queries over the attached catalog views. `process
  * --watch <pdfDir>` keeps ingesting the PDFs that arrive in the directory.
  *
  * Usage: runMain graft.Cli <warehouseDir> <command> [args...]
  */
object Cli {

  /** Register the catalog tables as temp views + graft SQL functions, so
    * `spark.sql` works over the warehouse (documents/chunks/images).
    */
  def attachSql(spark: SparkSession, config: GraftConfig): Unit = {
    val cat = new graft.sources.Catalog(spark, config.warehouseDir)
    Seq("documents", "chunks", "images").foreach { t =>
      if (cat.exists(t)) cat.read(t).createOrReplaceTempView(t)
    }
    GraftExtensions.register(spark, config.chunking)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Cli <warehouseDir> <command> [args...]")
    val config = GraftConfig(warehouseDir = args(0))
    val command = args(1)
    val rest = args.drop(2)

    val spark = GraftSession.getOrCreate()
    val pipe = new Pipeline(spark, config)
    val retriever = new Retriever(spark, pipe, config)

    command match {
      case "process" if rest.headOption.contains("--watch") =>
        require(rest.length >= 2, "usage: process --watch <pdfDir>")
        val query = new graft.streaming.StreamingIngest(spark, config).start(rest(1))
        println(s"watching ${rest(1)} (ctrl-c to stop)")
        query.awaitTermination() // ingest until interrupted
      case "process" =>
        require(rest.nonEmpty, "usage: process [--watch] <pdfDir>")
        val n = pipe.processDirectory(rest(0))
        println(s"processed $n documents")
      case "list" =>
        pipe.listDocuments(rest.headOption).show(50, truncate = false)
      case "search" =>
        // only consume the first word as a mode when it actually IS one
        val parsedMode = rest.headOption.flatMap(SearchMode.named)
        val queryWords = if (parsedMode.isDefined) rest.drop(1) else rest
        require(queryWords.nonEmpty, "usage: search [vector|keyword|hybrid] <query...>")
        retriever
          .search(queryWords.mkString(" "), parsedMode.getOrElse(SearchMode.Hybrid), config.search.defaultK)
          .show(20, 60)
      case "context" =>
        require(rest.nonEmpty, "usage: context <query...>")
        println(retriever.getContext(rest.mkString(" "), config.search.defaultMaxTokens))
      case "stats" =>
        pipe.stats().show()
      case "delete" =>
        require(rest.nonEmpty, "usage: delete <documentId>")
        pipe.deleteDocument(rest(0))
        println(s"deleted ${rest(0)}")
      case "sql" =>
        attachSql(spark, config)
        spark.sql(rest.mkString(" ")).show(100, truncate = false)
      case "flush" =>
        val dryRun = rest.contains("--dry-run")
        val dropped = pipe.flush(dryRun)
        println(s"${if (dryRun) "would drop" else "dropped"}: ${dropped.mkString(", ")}")
      case "serve" =>
        val port = rest.headOption.map(_.toInt).getOrElse(8080)
        val server = new RestServer(spark, config).start(port)
        println(s"serving on http://127.0.0.1:${server.getAddress.getPort} (ctrl-c to stop)")
        Thread.currentThread.join() // serve until interrupted
      case other =>
        sys.error(s"unknown command: $other (process|list|search|context|stats|delete|sql|serve|flush)")
    }
    spark.stop()
  }
}
