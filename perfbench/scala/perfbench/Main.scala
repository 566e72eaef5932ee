package perfbench

import java.io.{File, PrintWriter}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Sessions, SparkEntry}
import graft.analytics._
import graft.ingest._
import graft.schema.Schemas

/** JVM side of the benchmark: runs one workload against the engine's public
  * functions in a closed loop on one driver thread (each operation starts
  * when the previous one ends) and writes `result.json` into the run's work
  * directory. `run.py` prepares the inputs, checks the outputs and prints
  * the metrics; see perfbench/README.md.
  *
  *   perfbench.Main <work dir> ingest_spine <seed> <trace 0|1> <cores> <warm-up platforms>
  *   perfbench.Main <work dir> <analytics workload> <seed> <trace 0|1> <cores> <queries> <passes> <warm-up queries>
  */
object Main {

  final case class Op(name: String, phase: String, cycle: Int, seconds: Double,
      inserted: Long = -1L, error: String = "")

  def main(args: Array[String]): Unit = {
    val work = args(0)
    val workload = args(1)
    val seed = args(2).toLong
    val traced = args(3) == "1"
    val cores = args(4)
    val spark = Sessions.local(cores, s"perfbench-$workload")
    spark.sparkContext.setLogLevel("ERROR")
    val result = mutable.LinkedHashMap.empty[String, Any]
    val tracer = if (traced) Some(new Tracer(spark, s"$workload-$seed")) else None
    workload match {
      case "ingest_spine" => Ingest.run(spark, work, args(5).split(',').toSet, tracer, result)
      case _ =>
        Analytics.run(spark, work, args(5).split(',').toSeq, seed, args(6).toInt,
          args(7).split(',').toSeq, tracer, result)
    }
    result("retained") = Stats.retained(spark)
    tracer.foreach { t =>
      t.finish()
      result("spans") = t.spans.map(Json.span)
    }
    Json.write(s"$work/result.json", result)
    spark.stop()
  }

  /** Seconds since the JVM started: session start-up counts as set-up. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** ingest_spine: one Catchup cycle, K General cycles, one repeat cycle. */
object Ingest {
  import Main._

  private val hour = 3600000L

  def run(spark: SparkSession, work: String, warmPlatforms: Set[String], tracer: Option[Tracer],
      result: mutable.LinkedHashMap[String, Any]): Unit = {
    // set-up: warm the JIT with a backfill of a small input of the same
    // shape on the warm-up platforms
    cycles(spark, s"$work/warm", s"$work/warm_wh", None, mutable.ArrayBuffer.empty,
      mutable.ArrayBuffer.empty, repeat = false, warmPlatforms)
    result("setup_jvm_s") = sinceJvmStart()
    val ops = mutable.ArrayBuffer.empty[Op]
    val marks = mutable.ArrayBuffer.empty[Map[String, Map[String, String]]]
    cycles(spark, s"$work/input", s"$work/wh", tracer, ops, marks, repeat = true)
    result("ops") = ops.map(o => Map("name" -> o.name, "phase" -> o.phase, "cycle" -> o.cycle,
      "s" -> o.seconds, "inserted" -> o.inserted, "error" -> o.error))
    result("watermarks") = marks
    // final state, read after the timed region
    val sinks = Schemas.sinks.keys.toSeq.sorted.filter(s => Files.stats(new File(s"$work/wh/$s"))._1 > 0)
    result("sink_keys") = sinks.map { s =>
      val df = spark.read.parquet(s"$work/wh/$s")
      val key = Schemas.sinks(s)._2
      val lines = df.select(concat_ws("\u0001",
        key.map(k => coalesce(col(k).cast("string"), lit("\\N"))): _*)).collect().map(_.getString(0))
      s -> lines.toSeq
    }.toMap
    result("sink_bytes") = sinks.map(s => Files.stats(new File(s"$work/wh/$s"))._2).sum
  }

  /** Loads the control table of `input`, then runs every cycle found there
    * and, with `repeat`, the last one again an hour later.
    */
  private def cycles(spark: SparkSession, input: String, wh: String, tracer: Option[Tracer],
      ops: mutable.ArrayBuffer[Op], marks: mutable.ArrayBuffer[Map[String, Map[String, String]]],
      repeat: Boolean, only: Set[String] = Set.empty): Unit = {
    val usersPath = s"$wh/users"
    Watermarks.overwriteParquet(spark, usersPath,
      spark.read.schema(Schemas.users).json(s"$input/users.jsonl"))
    val general = new File(input).list().count(_.startsWith("cycle_")) - 1
    val now0 = Timestamp.valueOf("2025-06-01 00:00:00").getTime
    val plan = (0 to general).map { k =>
      (k, if (k == 0) "backfill" else "general", s"$input/cycle_$k")
    } ++ (if (repeat) Seq((general + 1, "noop", s"$input/cycle_$general")) else Nil)
    for ((k, phase, dir) <- plan) {
      val now = new Timestamp(now0 + k * hour)
      val mode: Mode = if (k == 0) Catchup() else General()
      for (spec <- Pipelines.specs(dir) if only.isEmpty || only(spec.platform)) {
        val (res, secs) = timed {
          try Right(tracer match {
            case None => IngestJob.run(spark, usersPath, wh, spec, mode, now)
            case Some(t) => t.span("ingest.op") { s =>
              s.labels ++= Seq("phase" -> phase, "platform" -> spec.platform)
              Replay.run(t, spark, usersPath, wh, spec, mode, now, phase)
            }
          }) catch { case e: Exception => Left(e.toString) }
        }
        ops += Op(spec.platform, phase, k, secs,
          res.map(_.inserted).getOrElse(-1L), res.left.getOrElse(""))
        println(f"op $phase $k ${spec.platform} $secs%.3f ${res.map(_.inserted)}")
      }
      marks += watermarks(spark, usersPath)
    }
  }

  /** platform -> company id -> watermark (absent when null). */
  private def watermarks(spark: SparkSession, usersPath: String): Map[String, Map[String, String]] = {
    val rows = Watermarks.read(spark, usersPath).collect()
    Schemas.platforms.map { p =>
      p -> rows.flatMap { r =>
        Option(r.getAs[Timestamp](s"last_fetched_$p")).map(t => r.getAs[Int]("id").toString -> t.toString)
      }.toMap
    }.toMap
  }
}

/** IngestJob.run replayed through the public layer functions, one span per
  * layer. Between layers the frame is persisted and counted so that each
  * span holds its own layer's work; the results (sink contents and
  * watermarks) are the same as IngestJob.run's.
  */
object Replay {
  def run(t: Tracer, spark: SparkSession, usersPath: String, warehouse: String,
      spec: IngestSpec, mode: Mode, now: Timestamp, phase: String): IngestResult = {
    def layer[A](name: String)(f: Span => A): A = t.span(name) { s => s.labels("phase") = phase; f(s) }
    val wmCol = s"last_fetched_${spec.platform}"
    val rows = layer("ingest.control_scan") { _ =>
      val users = Watermarks.read(spark, usersPath)
      val eligible = mode match {
        case General(staleMin) =>
          val cutoff = new Timestamp(now.getTime - staleMin * 60000L)
          users.filter(col(spec.handleCol).isNotNull && col(wmCol).isNotNull && col(wmCol) < lit(cutoff))
        case Catchup() =>
          users.filter(col(spec.handleCol).isNotNull && col(wmCol).isNull)
      }
      eligible.select(col("id"), col("company_name"), col(spec.handleCol), col(wmCol)).collect()
    }
    if (rows.isEmpty) return IngestResult(spec.platform, Map.empty, 0L)
    require(rows.map(_.getString(1)).distinct.length == rows.length,
      s"${spec.platform}: duplicate company_name in control table")
    val companies = rows.toSeq.map { r =>
      val since = mode match {
        case General(_) => Option(r.getTimestamp(3))
        case Catchup() => Some(new Timestamp(now.getTime - spec.lookbackDays * 86400000L))
      }
      (Company(r.getInt(0), r.getString(1), Option(r.getString(2))), since)
    }
    val limit = mode match {
      case General(_) => spec.generalLimit
      case Catchup() => spec.catchupLimit
    }
    val (fetched, kept) = layer("ingest.fetch") { s =>
      val df = spec.connector.fetchAll(spark, companies, Some(now), Some(limit)).persist()
      val n = df.count()
      s.attrs("rows_kept") = n.toDouble
      (df, n)
    }
    val (normalized, offered) = layer("ingest.normalize") { s =>
      val df = spec.normalize(fetched, col(SourceConnector.CompanyName),
        col(SourceConnector.CompanyHandle), lit(now)).persist()
      val n = df.count()
      s.attrs("rows_dropped") = math.max(0L, kept - n).toDouble
      (df, n)
    }
    val sinkPath = s"$warehouse/${spec.sinkName}"
    val before = Files.list(new File(sinkPath))
    val res = layer("ingest.sink") { s =>
      val r = DedupSink.append(spark, sinkPath, normalized, Schemas.sinks(spec.sinkName)._2,
        spec.tiebreak.map(col), groupCol = Some("company_name"), partitionBy = Seq("company_name"))
      s.attrs("rows_offered") = offered.toDouble
      s.attrs("rows_inserted") = r.inserted.toDouble
      r
    }
    val written = Files.list(new File(sinkPath)) -- before.keySet
    t.spans.last.attrs("files_written") = written.size.toDouble
    t.spans.last.attrs("bytes_written") = written.values.sum.toDouble
    val advanced = rows.collect {
      case r if res.perGroup.getOrElse(r.getString(1), 0L) > 0L => r.getInt(0)
    }.toSet
    layer("ingest.watermark") { s =>
      Watermarks.advance(spark, usersPath, spec.platform, advanced, now)
      s.attrs("rewrites") = if (advanced.nonEmpty) 1.0 else 0.0
    }
    if (advanced.nonEmpty)
      t.spans.last.attrs("bytes_written") = Files.stats(new File(usersPath))._2.toDouble
    fetched.unpersist(); normalized.unpersist()
    IngestResult(spec.platform, res.perGroup, res.inserted)
  }
}

/** analytics_*: a seeded permutation of the workload's queries per pass,
  * each pass over its own snapshot of the same tables, so every pass pays
  * the shared builds on whichever query touches them first.
  */
object Analytics {
  import Main._

  /** The engine object that declares each query. */
  val families: Seq[(String, Seq[QueryDef])] = Seq(
    "CoreQueries" -> CoreQueries.defs, "NormQueries" -> NormQueries.defs,
    "TextQueries" -> TextQueries.defs, "DedupQueries" -> DedupQueries.defs,
    "AnnQueries" -> AnnQueries.defs, "AnnLake" -> AnnLake.defs,
    "AnnGraphLake" -> AnnGraphLake.defs, "StreamQueries" -> StreamQueries.defs,
    "MultimodalQueries" -> MultimodalQueries.defs, "ExtQueries" -> ExtQueries.defs,
    "CurateQueries" -> CurateQueries.defs, "GraphQueries" -> GraphQueries.defs)
  lazy val familyOf: Map[String, String] =
    families.flatMap { case (f, defs) => defs.map(_.name -> f) }.toMap

  def run(spark: SparkSession, work: String, queries: Seq[String], seed: Long, passes: Int,
      warm: Seq[String], tracer: Option[Tracer], result: mutable.LinkedHashMap[String, Any]): Unit = {
    val fns = SparkEntry.queries
    val snapshots = (1 to passes).map(p => s"$work/snap_$p")
    // set-up: warm-up on the small tables, then every snapshot's pre-staging
    for (q <- warm) {
      SparkEntry.prestage.get(q).foreach(_(spark, s"$work/tiny"))
      try fns(q)(spark, s"$work/tiny").collect() catch { case _: Exception => () }
    }
    println(f"setup warm-up done at ${sinceJvmStart()}%.2f s")
    for (dir <- snapshots; q <- queries) SparkEntry.prestage.get(q).foreach(_(spark, dir))
    result("setup_jvm_s") = sinceJvmStart()
    println(f"setup done at ${result("setup_jvm_s")} s")

    val ops = mutable.ArrayBuffer.empty[Op]
    val outputs = mutable.ArrayBuffer.empty[(String, Int, StructType, Array[Row])]
    val rng = new scala.util.Random(seed)
    for ((dir, pass) <- snapshots.zipWithIndex) {
      for (q <- rng.shuffle(queries)) {
        val (res, secs) = timed {
          try Right(tracer match {
            case None => collect(spark, fns(q), dir)
            case Some(t) => t.span("query") { s =>
              s.labels ++= Seq("query" -> q, "family" -> familyOf(q), "pass" -> pass.toString)
              collect(spark, fns(q), dir)
            }
          }) catch { case e: Exception => Left(e.toString) }
        }
        res.foreach { case (schema, rows) => outputs += ((q, pass, schema, rows)) }
        ops += Op(q, "query", pass, secs, error = res.left.getOrElse(""))
        println(f"op query $pass $q $secs%.3f ${res.isRight}")
      }
    }
    // outputs are written after the timed region, for run.py's oracle check
    for ((q, pass, schema, rows) <- outputs)
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/out/$pass/$q")
    result("ops") = ops.map(o => Map("name" -> o.name, "phase" -> o.phase, "cycle" -> o.cycle,
      "s" -> o.seconds, "family" -> familyOf(o.name), "error" -> o.error))
    result("oracle") = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
  }

  private def collect(spark: SparkSession, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      dir: String): (StructType, Array[Row]) = {
    val df = fn(spark, dir)
    (df.schema, df.collect())
  }
}

object Files {
  /** Every regular file under `f`: path -> bytes. */
  def list(f: File): Map[String, Long] =
    if (f.isFile) Map(f.getPath -> f.length())
    else Option(f.listFiles()).toSeq.flatten.flatMap(c => list(c)).toMap

  /** (file count, bytes) of the parquet files under `f`. */
  def stats(f: File): (Int, Long) = {
    val files = list(f).filter(_._1.endsWith(".parquet"))
    (files.size, files.values.sum)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Memory the run still holds at its end: heap in use after a full
    * collection (which includes in-memory cached blocks) plus block-manager
    * disk, and the number of cached blocks.
    */
  def retained(spark: SparkSession): Map[String, Double] = {
    for (_ <- 1 to 2) { System.gc(); Thread.sleep(100) }
    val rt = Runtime.getRuntime
    val info = spark.sparkContext.getRDDStorageInfo
    Map(
      "retained_mb" -> (rt.totalMemory - rt.freeMemory + info.map(_.diskSize).sum) / 1048576.0,
      "blocks" -> info.map(_.numCachedPartitions).sum.toDouble)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def span(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
    "start" -> s.start, "end" -> s.end, "labels" -> s.labels.toMap, "attrs" -> s.attrs.toMap,
    "counters" -> s.counters.toMap, "materialize_sites" -> s.materializeSites.distinct.toSeq,
    "job_sites" -> s.jobSites.toMap)

  def encode(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => encode(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case other => encode(other.toString)
  }

  def write(path: String, v: Any): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.write(encode(v)) finally w.close()
  }
}
