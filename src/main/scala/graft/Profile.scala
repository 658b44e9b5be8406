package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Measurement harness for the optimization rounds (guide §1): where a
  * selected catalog query's time goes, after a warm pass, under the SAME
  * session configuration as [[Bench]]. A 235-query bench total only says
  * WHICH query is slow; this says which phase or job inside it — the
  * empirical half of the guide's measure-first loop.
  *
  * Per query, each rep times the Catalyst phases — DataFrame construction
  * (incl. eager analysis per op), analysis, optimization, physical planning
  * (guide §7.3: driver-side single-threaded work, paid on every bench pass
  * because the bench re-plans every query) — then executes the plan the way
  * Bench does. It prints the per-phase minimum over reps, then the per-job
  * breakdown of the fastest rep.
  *
  * Usage: runMain graft.Profile [name-substring[,substring...]] [reps]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object Profile {
  private final case class Job(id: Int, desc: String, ms: Double, stages: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val sel = args.headOption.map(_.split(',').toSeq).getOrElse(Seq.empty)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val spark = GraftSession.builder(cpus, Some(sfDir)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // job-level capture of the current execution
    val jobs = new scala.collection.mutable.ArrayBuffer[Job]()
    val starts = new scala.collection.mutable.HashMap[Int, (Long, String, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        starts(js.jobId) = (System.nanoTime(), d, js.stageInfos.size)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
        starts.remove(je.jobId).foreach { case (t0, d, ns) =>
          jobs += Job(je.jobId, d, (System.nanoTime() - t0) / 1e6, ns)
        }
      }
    })

    val names = SparkEntry.queries.toSeq
      .filter(kv => sel.isEmpty || sel.exists(kv._1.contains)).sortBy(_._1)
    // warm pass (codegen, at-rest index builds, FileIndex caches), untimed
    names.foreach { case (n, fn) =>
      try fn(spark, sfDir).queryExecution.toRdd.count() catch {
        case t: Throwable => System.err.println(s"[profile] warm $n: ${t.getMessage}")
      }
    }

    val phases = Seq("construct", "analyze", "optimize", "plan", "execute")
    val sums = Array.fill(phases.size)(0.0)
    names.foreach { case (n, fn) =>
      try {
        val best = Array.fill(phases.size)(Double.MaxValue)
        var bestJobs = Seq.empty[Job]
        var bestTotal = Double.MaxValue
        for (_ <- 1 to reps) {
          jobs.synchronized(jobs.clear())
          val t0 = System.nanoTime()
          val qe = fn(spark, sfDir).queryExecution
          val t1 = System.nanoTime()
          qe.analyzed
          val t2 = System.nanoTime()
          qe.optimizedPlan
          val t3 = System.nanoTime()
          qe.executedPlan
          val t4 = System.nanoTime()
          qe.toRdd.count()
          val t5 = System.nanoTime()
          val cur = Seq(t0, t1, t2, t3, t4, t5).sliding(2).map(p => (p(1) - p(0)) / 1e6).toArray
          // construction may run jobs too (eager counts, iterative loops),
          // so the job breakdown belongs to the whole rep, not to execute
          if (cur.sum < bestTotal) {
            bestTotal = cur.sum
            bestJobs = jobs.synchronized(jobs.toList)
          }
          for (i <- phases.indices) best(i) = math.min(best(i), cur(i))
        }
        for (i <- phases.indices) sums(i) += best(i)
        println(s"\n== $n (min of $reps, ms): " +
          phases.indices.map(i => f"${phases(i)} ${best(i)}%.1f").mkString(", ") +
          s"; ${bestJobs.size} jobs ==")
        bestJobs.foreach { r =>
          println(f"  job ${r.id}%4d  ${r.ms}%8.1f ms  stages=${r.stages}%2d  ${r.desc.take(90)}")
        }
        val jobsMs = bestJobs.map(_.ms).sum
        println(f"  [rep ${bestTotal / 1000}%.3f s; jobs sum ${jobsMs / 1000}%.3f s; gaps (plan/driver) ${(bestTotal - jobsMs) / 1000}%.3f s]")
      } catch {
        case t: Throwable => System.err.println(s"[profile] $n: ${t.getMessage}")
      }
    }
    println("\nTOTAL (ms): " + phases.indices.map(i => f"${phases(i)} ${sums(i)}%.1f").mkString(", "))
    spark.stop()
  }
}
