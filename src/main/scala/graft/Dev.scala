package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev tool over the registered `SparkEntry.queries`, on the same
  * session, data dir (`SPARK_GRAFT_SF_DIR`) and round count
  * (`SPARK_GRAFT_BENCH_ROUNDS`) as [[Bench]]:
  *
  *  - `time <q…>`: run each query once to warm it (that run's wall
  *    prints as `cold=`: JIT, codegen and AQE's first plan), then time
  *    interleaved rounds and print min, median and every sample;
  *  - `stages <q>`: warm once, then run once under a listener that
  *    attributes wall time to stages — the local stand-in for the
  *    Spark UI's stage table — and print the RDDs still persisted
  *    after the run (an operator that leaks a cache shows here);
  *  - `plan <outDir> <tag> [q…]`: write each query's
  *    `explain("formatted")` to `<outDir>/<q>_<tag>.txt`, every
  *    registered query when none is named.
  *
  * Usage: `runMain graft.Dev stages q_dedup_jaccard`.
  */
object Dev {
  private type Query = (SparkSession, String) => DataFrame

  private def query(name: String): Query =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name; " +
      s"known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(",")}"))

  def main(args: Array[String]): Unit = {
    def named(names: Seq[String]) = names.map(n => n -> query(n))
    val run: SparkSession => Unit = args.toList match {
      case "time" :: names if names.nonEmpty => time(named(names))
      case "stages" :: name :: Nil => stages(name, query(name))
      case "plan" :: outDir :: tag :: names =>
        plan(outDir, tag, named(
          if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted))
      case _ => sys.error(
        "usage: Dev time <q...> | Dev stages <q> | Dev plan <outDir> <tag> [q...]")
    }
    val spark = Sessions.local()
    try run(spark) finally spark.stop()
  }

  private def time(queries: Seq[(String, Query)])(spark: SparkSession): Unit = {
    val runs = queries.map { case (n, fn) =>
      n -> (() => { fn(spark, Bench.sfDir).count(); spark.catalog.clearCache() })
    }
    val cold = runs.map { case (n, f) => n -> Bench.seconds(f()) }.toMap
    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    for (_ <- 1 to Bench.rounds; (n, f) <- runs)
      samples(n) = samples.getOrElse(n, Vector.empty) :+ Bench.seconds(f())
    samples.foreach { case (n, v) =>
      println(f"$n%-24s min=${v.min}%.3f median=${Bench.median(v)}%.3f " +
        f"all=${v.map(x => f"$x%.3f").mkString(",")} cold=${cold(n)}%.3f")
    }
  }

  private final case class Stage(id: Int, name: String, wallMs: Long,
      taskMs: Long, cpuMs: Long, srBytes: Long, srRows: Long, swBytes: Long,
      spillMem: Long, spillDisk: Long, tasks: Int)

  private def stages(name: String, fn: Query)(spark: SparkSession): Unit = {
    // warm once: AQE final plans + codegen, same as the bench protocol
    fn(spark, Bench.sfDir).count(); spark.catalog.clearCache()

    val stages = scala.collection.mutable.ArrayBuffer[Stage]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        // the RDD scope chain names the operators the stage pipelines —
        // far more telling than the AQE-era uniform callsite name
        val ops = si.rddInfos.sortBy(_.id).map(r =>
          r.scope.map(_.name).getOrElse(r.name))
          .distinct.mkString(">").take(140)
        stages.synchronized {
          stages += Stage(si.stageId, ops,
            wall, m.executorRunTime, m.executorCpuTime / 1000000,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled, m.diskBytesSpilled, si.numTasks)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val total = Bench.seconds(fn(spark, Bench.sfDir).count())
    val persisted = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500) // let the listener bus drain
    println(f"[stageprofile] $name total=$total%.3f s, ${stages.size} stages")
    println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s ${"cpu_ms"}%8s " +
      f"${"sh_read"}%10s ${"sr_rows"}%9s ${"sh_write"}%10s " +
      f"${"spill_mem"}%10s ${"spill_dsk"}%10s ${"tasks"}%5s  name")
    stages.sortBy(-_.wallMs).foreach { s =>
      println(f"${s.id}%6d ${s.wallMs}%8d ${s.taskMs}%8d ${s.cpuMs}%8d " +
        f"${s.srBytes}%10d ${s.srRows}%9d ${s.swBytes}%10d " +
        f"${s.spillMem}%10d ${s.spillDisk}%10d ${s.tasks}%5d  ${s.name}")
    }
    val totSpill = stages.map(_.spillDisk).sum
    if (totSpill > 0)
      println(f"[stageprofile] total disk spill: ${totSpill / 1048576.0}%.1f MiB")
    val sumWall = stages.map(_.wallMs).sum
    println(f"[stageprofile] stage wall sum=${sumWall / 1000.0}%.3f s " +
      f"(gaps = driver/plan/commit time: ${total - sumWall / 1000.0}%.3f s)")
    println(s"[stageprofile] persistent RDDs after the run: $persisted")
  }

  private def plan(outDir: String, tag: String, queries: Seq[(String, Query)])(
      spark: SparkSession): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    queries.foreach { case (name, fn) =>
      try {
        val plan = org.apache.spark.sql.GraftBridge.explainString(
          fn(spark, Bench.sfDir))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[plandump] wrote $outDir/${name}_$tag.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
  }
}
