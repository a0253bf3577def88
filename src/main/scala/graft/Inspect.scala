package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import scala.collection.mutable

/** Developer tool (its output is not parsed by anything): looks at named
  * queries in exactly Bench's session (same `SPARK_GRAFT_CPUS` threads and
  * partitions, same `SPARK_GRAFT_SF_DIR`), so what it shows is what the
  * bench runs.
  *
  * {{{
  * sbt "runMain graft.Inspect profile q1,q2"        per-stage time table
  * sbt "runMain graft.Inspect plan q1,q2 [outDir]"  formatted physical plans
  * sbt "runMain graft.Inspect sql [q1 q2 ...]"      SQL text vs builder rows
  * }}}
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    def names(csv: String) = csv.split(",").toSeq.filter(_.nonEmpty)
    val run: (SparkSession, String) => Boolean = args.toList match {
      case "profile" :: qs :: Nil => profile(_, _, names(qs))
      case "plan" :: qs :: out if out.size <= 1 => plan(_, _, names(qs), out.headOption)
      case "sql" :: qs => sql(_, _, qs)
      case _ =>
        System.err.println(
          "usage: Inspect profile <q,...> | plan <q,...> [outDir] | sql [q ...]")
        sys.exit(2)
    }
    val (spark, sfDir) = Bench.session()
    val ok = run(spark, sfDir)
    spark.stop()
    if (!ok) sys.exit(1)
  }

  private case class StageRec(id: Int, name: String, tasks: Int,
    wallMs: Long, taskMs: Long, shufR: Long, shufW: Long, inB: Long)

  /** Runs each query three times through the `noop` sink and prints each
    * repeat's wall time, then the last repeat's 25 slowest stages
    * (wall, summed task time, input and shuffle bytes) from a
    * SparkListener — the session runs with the UI off, so this is the
    * only per-stage view. */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Boolean = {
    val repeats = 3
    val stages = mutable.ArrayBuffer[StageRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        stages.synchronized { stages += StageRec(si.stageId,
          si.name.split(" at ").headOption.getOrElse(si.name), si.numTasks,
          wall, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead) }
      }
    })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to repeats).foreach { r =>
        stages.synchronized(stages.clear())
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val total = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the listener bus drain
        val recs = stages.synchronized(stages.toList)
        println(f"==== $name repeat $r: $total%.3f s, ${recs.size} stages, " +
          f"stage-wall sum ${recs.map(_.wallMs).sum / 1e3}%.3f s ====")
        if (r == repeats) {
          recs.sortBy(-_.wallMs).take(25).foreach { s =>
            println(f"  stage ${s.id}%4d ${s.name}%-28s tasks=${s.tasks}%3d " +
              f"wall=${s.wallMs / 1e3}%7.3f taskSum=${s.taskMs / 1e3}%8.3f " +
              f"in=${s.inB / 1e6}%8.1fMB sr=${s.shufR / 1e6}%7.1fMB sw=${s.shufW / 1e6}%7.1fMB")
          }
        }
        Pipeline.releaseCaches(spark)
      }
    }
    true
  }

  /** `explain("formatted")` of each query — to stdout, or to
    * `<outDir>/<query>.txt` when an output directory is given. */
  def plan(spark: SparkSession, sfDir: String, names: Seq[String],
           outDir: Option[String]): Boolean = {
    outDir.foreach(new java.io.File(_).mkdirs())
    names.foreach { name =>
      val text = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      outDir match {
        case Some(dir) =>
          Files.writeString(Paths.get(s"$dir/$name.txt"), text)
          println(s"wrote $dir/$name.txt")
        case None => println(s"==== $name ====\n$text")
      }
    }
    true
  }

  /** Runs `text` and the registered builder of `name` over the fixture
    * views and compares their rows in order (every surface and oracle
    * text ends in a total-order ORDER BY): None when identical, else the
    * row counts and first difference, or the error's first line. */
  def compare(spark: SparkSession, sfDir: String, name: String,
              text: String): Option[String] =
    try {
      val viaSql = spark.sql(text).collect().toSeq.map(_.toString)
      val viaApi = SparkEntry.queries(name)(spark, sfDir).collect().toSeq.map(_.toString)
      if (viaSql == viaApi) None
      else Some(s"${viaSql.size} vs ${viaApi.size} rows; first diff: " +
        viaSql.zipAll(viaApi, "<none>", "<none>").find(p => p._1 != p._2))
    } catch { case e: Throwable =>
      Some("threw: " + String.valueOf(e.getMessage).linesIterator.nextOption()
        .getOrElse(e.getClass.getName).take(200))
    }

  /** SQL text vs builder for each named query (all registered queries when
    * none are named). A name with a `SparkEntry.sqlQueries` text is a
    * surface entry and must match (`SURFACE OK`/`SURFACE DIFF`); any
    * other name is probed for portability — its DuckDB oracle SQL as is
    * (`PORTABLE`), else its `duckToSpark` translation (`DIALECT`), else
    * `NOT-PORTABLE` — the harvest path for new surface entries. False
    * when any surface entry diverged. */
  def sql(spark: SparkSession, sfDir: String, names: Seq[String]): Boolean = {
    Tables.registerAll(spark, sfDir)
    graft.queries.SqlSurface.registerCompat(spark)
    val registered = SparkEntry.queries.keySet
    require(names.forall(registered), s"unknown queries: ${names.filterNot(registered)}")
    val targets = if (names.nonEmpty) names else registered.toSeq.sorted
    var bad = 0
    targets.foreach { name =>
      SparkEntry.sqlQueries.get(name) match {
        case Some(text) => compare(spark, sfDir, name, text) match {
          case None => println(s"SURFACE OK   $name")
          case Some(d) => bad += 1; println(s"SURFACE DIFF $name: $d")
        }
        case None => SparkEntry.oracleSql.get(name) match {
          case None => println(s"NO-SQL       $name")
          case Some(raw) =>
            val dialect = graft.queries.SqlSurface.duckToSpark(raw)
            val asIs = compare(spark, sfDir, name, raw)
            val translated = if (asIs.isEmpty || dialect == raw) asIs
              else compare(spark, sfDir, name, dialect)
            println((asIs, translated) match {
              case (None, _) => s"PORTABLE     $name"
              case (_, None) => s"DIALECT      $name"
              case (_, Some(d)) => s"NOT-PORTABLE $name: $d"
            })
        }
      }
      Pipeline.releaseCaches(spark)
    }
    println(s"== ${targets.size} names, $bad surface divergences")
    bad == 0
  }
}
