package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}

/** Dev-only profiler: run named declared queries with (a) a listener that
  * attributes wall time to individual Spark jobs (first stage name =
  * callsite + duration) and (b) a sampler on the main thread that
  * histograms DRIVER-side work (the gaps between jobs), so a multi-verb
  * lifecycle fixture's cost can be broken down without touching the
  * query itself. Usage:
  *   sbt "runMain graft.ProfileOne <query> [query ...]"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftExtensions.localSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // same family warm-up as Bench so first-query JIT noise shrinks
    try {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").count().count()
      li.limit(5000).write.mode("overwrite").parquet("/tmp/graft_prof_warm")
    } catch { case scala.util.control.NonFatal(_) => () }

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Double, String)]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = js.stageInfos.headOption.map(_.name).getOrElse("?")
        starts.put(js.jobId, (js.time, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.remove(je.jobId)
        if (s != null) rows.add((je.jobId, s._1, (je.time - s._1) / 1e3, s._2))
      }
    }
    val main = Thread.currentThread()
    args.foreach { name =>
      rows.clear()
      // driver-side sampler: histogram the deepest graft/TsStore frame on
      // the main thread every 20ms while the query runs
      val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val sampler = new Thread(() => {
        while (!stop.get()) {
          val st = main.getStackTrace
          val f = st.find(e => e.getClassName.startsWith("graft."))
            .map(e => s"${e.getClassName.stripPrefix("graft.")}.${e.getMethodName}:${e.getLineNumber}")
            .getOrElse(st.headOption.map(e =>
              s"[ext] ${e.getClassName}.${e.getMethodName}").getOrElse("idle"))
          hist.merge(f, 1, (a, b) => a + b)
          Thread.sleep(20)
        }
      }, "graft-prof-sampler")
      sampler.setDaemon(true)
      spark.sparkContext.addSparkListener(l)
      sampler.start()
      val t0 = System.nanoTime()
      Registry.all(name).fn(spark, sfDir).queryExecution.toRdd.count()
      val wall = (System.nanoTime() - t0) / 1e9
      stop.set(true); sampler.join(500)
      spark.sparkContext.removeSparkListener(l)
      Thread.sleep(200) // let trailing job-end events drain
      println(s"==== $name wall=${"%.2f".format(wall)}s jobs:")
      import scala.jdk.CollectionConverters._
      val rs = rows.asScala.toSeq.sortBy(_._2)
      val total = rs.map(_._3).sum
      var lastEnd = 0L
      rs.foreach { case (id, st, d, site) =>
        val gap = if (lastEnd > 0) (st - lastEnd) / 1e3 else 0.0
        if (gap > 0.15) println(f"       (driver gap $gap%6.3f s)")
        println(f"  job $id%4d $d%7.3f s  ${site.take(110)}")
        lastEnd = math.max(lastEnd, st + (d * 1000).toLong)
      }
      println(f"  -- ${rs.size} jobs, sum $total%.2f s (driver gaps: ${wall - total}%.2f s)")
      println("  -- driver-thread sample histogram (20ms ticks):")
      hist.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, n) =>
        println(f"     $n%5d  $k")
      }
    }
    spark.stop()
  }
}
