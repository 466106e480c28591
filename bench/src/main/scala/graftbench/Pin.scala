package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Records, for every declared query the mix may sample, its row count and
  * content digest over the fixtures, whether two executions agree, and dumps
  * its result as one parquet file beside `oracle_sql.json`, the layout
  * `tools/check.py` compares against DuckDB.
  */
object Pin {
  val Excluded = Seq("store_", "stream_", "write_")

  def run(spark: SparkSession, fixtures: String, dump: String, out: String): Unit = {
    val all = graft.Registry.all.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => Excluded.exists(n.startsWith) }
    val rows = all.map { case (name, q) =>
      val t0 = System.nanoTime()
      val rec: Map[String, Any] =
        try {
          val rows = q.fn(spark, fixtures).queryExecution.toRdd.count()
          val secs = (System.nanoTime() - t0) / 1e9
          val d1 = Digest.of(q.fn(spark, fixtures))
          val d2 = Digest.of(q.fn(spark, fixtures))
          q.fn(spark, fixtures).coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")
          Map("rows" -> rows, "digest" -> d1, "stable" -> (d1 == d2), "seconds" -> secs)
        } catch {
          case e: Exception => Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      name -> (rec ++ Map("family" -> Workloads.family(name), "oracle" -> q.oracle.isDefined))
    }
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
      Json(all.collect { case (n, q) if q.oracle.isDefined => n -> q.oracle.get }.toMap))
    Files.writeString(Paths.get(out), Json(rows.toMap))
  }
}
