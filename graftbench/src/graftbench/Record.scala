package graftbench

import java.io.{FileWriter, PrintWriter}

/** Records the expected outputs of a set of queries: for each pass and
  * query, the time to build and materialize it, one JSON line each. Mode
  * `collect` runs the passes as the inventory does: the first collects and
  * fingerprints each result (`Canon.of`, with the row count), later ones
  * materialize it through the `noop` sink, so the last pass times what the
  * inventory times. Mode `parquet` instead fingerprints, once, the results
  * `graft.Verify` wrote under `<sfDir>/<query>`, which ties the expected
  * file to the DuckDB oracle check of that dump. Run it on the anchor
  * commit to make the expected file the benchmark checks against (see
  * README.md).
  *
  * usage: Record <sfDir> <passes> <out.jsonl> <collect|parquet> [query ...] */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, passes, out, mode) = args.take(4)
    val spark = Session.build()
    val all = graft.SparkEntry.queries
    val names = if (args.length > 4) args.drop(4).toSeq else all.keys.toSeq.sorted
    val w = new PrintWriter(new FileWriter(out, true), true)
    for (pass <- 1 to passes.toInt; name <- names) {
      val t0 = System.nanoTime()
      val line =
        try {
          val df = if (mode == "parquet") spark.read.parquet(s"$sfDir/$name") else all(name)(spark, sfDir)
          val t1 = System.nanoTime()
          val checked = if (pass == 1) {
            val r = Canon.of(df)
            Map("rows" -> r.rows, "fingerprint" -> r.fingerprint)
          } else {
            df.write.format("noop").mode("overwrite").save()
            Map.empty[String, Any]
          }
          Map("pass" -> pass, "name" -> name, "build_s" -> (t1 - t0) / 1e9,
            "s" -> (System.nanoTime() - t0) / 1e9) ++ checked
        } catch {
          case e: Throwable =>
            Map("pass" -> pass, "name" -> name, "error" -> String.valueOf(e.getMessage).take(300))
        }
      w.println(Json(line))
    }
    w.close()
    spark.stop()
  }
}
