package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.CityBike
import graft.sources.Tables
import graft.streaming.EventStreams

/** One timed operation of the closed loop. A failed operation keeps its
  * error and is left out of every latency statistic.
  */
final class Op(val name: String, val kind: String) {
  var ok = true
  var error = ""
  var startMs = 0.0
  var endMs = 0.0
  var rows = -1L
  var digest = ""
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def seconds: Double = (endMs - startMs) / 1e3
  def fail(msg: String): Unit = if (ok) { ok = false; error = msg }
}

/** Records operations and the bench-side spans inside them. */
final class Recorder {
  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  private var current = -1

  // Epoch milliseconds on the monotonic clock, comparable with the
  // listener timestamps Spark reports.
  private val (epochMs, nano0) = (System.currentTimeMillis().toDouble, System.nanoTime())
  private def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6

  /** Times `body` as one operation. A throw marks it failed. */
  def op(name: String, kind: String)(body: Op => Unit): Op = {
    val o = new Op(name, kind)
    ops += o
    current = spans.size
    spans += Span(name, kind, 0, 0, -1)
    o.startMs = nowMs
    try body(o)
    catch { case t: Throwable => o.fail(s"${t.getClass.getName}: ${t.getMessage}".take(500)) }
    o.endMs = nowMs
    spans(current) = Span(name, kind, o.startMs, o.endMs, -1)
    current = -1
    o
  }

  /** Times one step of the current operation as a child span. */
  def span[A](o: Op, name: String, layer: String)(body: => A): A = {
    val s = nowMs
    try body
    finally {
      val e = nowMs
      o.phases(name) = (e - s) / 1e3
      spans += Span(name, layer, s, e, current)
    }
  }

  /** Full output of `df` as the operation's rows and digest. */
  def fullOutput(o: Op, df: DataFrame): Unit = {
    val (n, d) = span(o, "exec", "exec")(Digest.fullOutput(df))
    o.rows = n
    o.digest = Digest.hex(d)
  }

  def roots: Seq[(Int, Double, Double)] =
    spans.zipWithIndex.collect { case (s, i) if s.parent == -1 => (i, s.startMs, s.endMs) }.toSeq
}

/** A benchmark workload: input registration (part of set-up), the timed
  * closed loop, untimed output checks, and its layer counters.
  */
trait Workload {
  def register(spark: SparkSession): Unit
  def run(spark: SparkSession, rec: Recorder): Unit
  def verify(spark: SparkSession, rec: Recorder): Unit = ()
  def layers(rec: Recorder, warehouse: File): Map[String, Double] = Map.empty
}

/** `query_mix`: declared queries, each built through `SparkEntry.queries`
  * on its own data directory and run once to full output.
  */
final class Queries(plan: JsonNode) extends Workload {
  private val queries = plan.get("queries").elements().asScala.toSeq
  private var entry: Map[String, (SparkSession, String) => DataFrame] = Map.empty

  def register(spark: SparkSession): Unit = {
    entry = SparkEntry.queries
    for (dir <- queries.map(_.get("data").asText).distinct;
         f <- new File(dir).listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted)
      spark.read.parquet(s"$dir/$f").schema
  }

  def run(spark: SparkSession, rec: Recorder): Unit = queries.foreach { q =>
    val name = q.get("name").asText
    rec.op(name, "query") { o =>
      val df = rec.span(o, "build", "queries")(entry(name)(spark, q.get("data").asText))
      rec.fullOutput(o, df)
      val (rows, digest) = (q.get("rows").asLong, q.get("digest").asText)
      if (o.rows != rows || o.digest != digest)
        o.fail(s"output rows=${o.rows} digest=${o.digest}, expected rows=$rows digest=$digest")
    }
  }
}

/** `citybike_load`: the reference ETL over monthly ride files — the
  * parsed rides, four dimensions, the fact, then the warehouse tables.
  */
final class CityBikeLoad(plan: JsonNode) extends Workload {
  private val rides = plan.get("rides").asText
  private val expect = plan.get("expect")
  private val db = "citybike"
  private val built = scala.collection.mutable.Map.empty[String, String]

  def register(spark: SparkSession): Unit =
    spark.read.schema(CityBike.rideCsvSchema).option("sep", ";").option("header", "true")
      .csv(rides).inputFiles

  private var wh: CityBike.Warehouse = null

  def run(spark: SparkSession, rec: Recorder): Unit = {
    // materializes one persisted frame of the warehouse and checks its rows
    def materialize(o: Op, df: DataFrame): Unit = {
      rec.fullOutput(o, df)
      built(o.name) = o.digest
      if (o.rows != expect.get(o.name).asLong)
        o.fail(s"rows=${o.rows}, expected ${expect.get(o.name).asLong}")
    }
    rec.op("rides", "etl") { o =>
      wh = rec.span(o, "build", "etl")(CityBike.build(spark, rides))
      materialize(o, wh.rides)
    }
    if (wh == null) return
    Seq("member_dim" -> wh.memberDim, "rideable_dim" -> wh.rideableDim, "station_dim" -> wh.stationDim,
      "date_dim" -> wh.dateDim, "fact" -> wh.fact)
      .foreach { case (name, df) => rec.op(name, "etl")(materialize(_, df)) }
    rec.op("bootstrap", "load")(o => rec.span(o, "write", "sources")(Tables.bootstrapCityBike(spark, wh, db)))
  }

  // Untimed: the fact's summed trip durations equal the generator's, and
  // every written table reads back with the digest of the frame built.
  override def verify(spark: SparkSession, rec: Recorder): Unit = {
    def opNamed(n: String) = rec.ops.find(_.name == n)
    if (wh != null) opNamed("fact").foreach { o =>
      val got = wh.fact.agg(sum(col("trip_duration"))).head().getLong(0)
      if (got != expect.get("trip_duration_sum").asLong)
        o.fail(s"sum(trip_duration)=$got, expected ${expect.get("trip_duration_sum").asLong}")
    }
    opNamed("bootstrap").filter(_.ok).foreach { o =>
      Seq("member_dimension" -> "member_dim", "rideable_dimension" -> "rideable_dim",
        "station_dimension" -> "station_dim", "date_dimension" -> "date_dim", "ride_fact" -> "fact")
        .foreach { case (table, step) =>
          val d = Digest.hex(Digest.fullOutput(spark.table(s"$db.$table"))._2)
          if (!built.get(step).contains(d)) o.fail(s"$db.$table digest $d differs from the frame built")
        }
    }
  }

  override def layers(rec: Recorder, warehouse: File): Map[String, Double] = {
    def secs(n: String) = rec.ops.find(_.name == n).map(_.seconds).getOrElse(0.0)
    def rows(n: String) = rec.ops.find(_.name == n).map(o => math.max(o.rows, 0L).toDouble).getOrElse(0.0)
    val (bytes, _) = Harness.dataFiles(warehouse)
    Map(
      "etl.parse_s" -> secs("rides"),
      "etl.member_dim_s" -> secs("member_dim"),
      "etl.rideable_dim_s" -> secs("rideable_dim"),
      "etl.station_dim_s" -> secs("station_dim"),
      "etl.date_dim_s" -> secs("date_dim"),
      "etl.fact_s" -> secs("fact"),
      "etl.fact_rows" -> rows("fact"),
      "etl.date_dim_rows" -> rows("date_dim"),
      "sources.load_s" -> secs("bootstrap"),
      "sources.stored_bytes_ratio" -> bytes / plan.get("csv_bytes").asDouble)
  }
}

/** `cdc_fold`: a CDC log folded micro-batch by micro-batch into a
  * bucketed snapshot, with scheduled snapshot reads, compactions and one
  * replayed batch id.
  */
final class CdcFold(plan: JsonNode) extends Workload {
  private val state = "cdc_state"
  private val keys = Seq("k")
  private val buckets = plan.get("buckets").asInt
  private val batches = plan.get("batches").asInt
  private val readEvery = plan.get("read_every").asInt
  private val compactEvery = plan.get("compact_every").asInt
  private val replayAfter = plan.get("replay_after").asInt
  private val replayId = plan.get("replay_id").asInt
  private val expectReads = plan.get("reads")
  private var base: DataFrame = _
  private var log: DataFrame = _

  private def fold(batch: DataFrame, id: Long): Unit =
    EventStreams.foldSnapshotBatch(batch, id, state, keys, "op", Seq("ord"), buckets)
  private def slice(b: Int): DataFrame = log.filter(col("batch") === b).drop("batch")

  def register(spark: SparkSession): Unit = {
    base = spark.read.parquet(plan.get("base").asText)
    log = spark.read.parquet(plan.get("log").asText).cache()
    log.count()
    fold(base.withColumn("op", lit("I")).withColumn("ord", lit(0L)), 0L)
  }

  def run(spark: SparkSession, rec: Recorder): Unit = (1 to batches).foreach { b =>
    rec.op(s"fold$b", "fold")(o => rec.span(o, "fold", "streaming")(fold(slice(b), b.toLong)))
    if (b == replayAfter)
      rec.op(s"replay$replayId", "replay")(o => rec.span(o, "fold", "streaming")(fold(slice(replayId), replayId.toLong)))
    if (b % readEvery == 0) rec.op(s"read$b", "read") { o =>
      rec.fullOutput(o, EventStreams.snapshot(spark, state))
      val e = expectReads.get(b.toString)
      if (o.rows != e.get("rows").asLong || o.digest != e.get("digest").asText)
        o.fail(s"snapshot rows=${o.rows} digest=${o.digest}, expected " +
          s"rows=${e.get("rows").asLong} digest=${e.get("digest").asText}")
    }
    if (b % compactEvery == 0)
      rec.op(s"compact$b", "compact")(o => rec.span(o, "compact", "streaming")(EventStreams.compactSnapshot(spark, state)))
  }

  // Untimed: the final snapshot equals a latest-wins recomputation of base
  // plus the whole log in plain Spark.
  override def verify(spark: SparkSession, rec: Recorder): Unit = {
    val last = rec.ops.lastOption.filter(_.ok)
    last.foreach { o =>
      val all = base.withColumn("op", lit("I")).withColumn("ord", lit(0L))
        .unionByName(log.drop("batch"))
      val latest = all
        .withColumn("__r", row_number().over(Window.partitionBy("k").orderBy(col("ord").desc)))
        .filter(col("__r") === 1 && col("op") =!= "D")
        .select(base.columns.map(col).toSeq: _*)
      val want = Digest.fullOutput(latest)
      val got = Digest.fullOutput(EventStreams.snapshot(spark, state).select(base.columns.map(col).toSeq: _*))
      if (got != want)
        o.fail(s"final snapshot (${got._1} rows, ${Digest.hex(got._2)}) differs from the " +
          s"recomputation (${want._1} rows, ${Digest.hex(want._2)})")
    }
  }

  override def layers(rec: Recorder, warehouse: File): Map[String, Double] = {
    def total(kind: String) = rec.ops.filter(_.kind == kind).map(_.seconds).sum
    val (_, files) = Harness.dataFiles(new File(warehouse, state))
    Map(
      "streaming.fold_s" -> total("fold"),
      "streaming.read_s" -> total("read"),
      "streaming.compact_s" -> total("compact"),
      "streaming.state_files" -> files.toDouble)
  }
}

/** Runs one workload in one JVM: a timed set-up of a fresh Spark session
  * with its own warehouse and local directories, then the timed closed
  * loop. Writes a JSON result file.
  *
  * Usage: `perfbench.Harness <plan.json> <result.json>`
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Total bytes and count of data files (not hidden, not checksums) under `dir`. */
  def dataFiles(dir: File): (Long, Int) =
    if (!dir.exists) (0L, 0)
    else {
      val files = Files.walk(dir.toPath).iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")).toSeq
      (files.map(_.length).sum, files.size)
    }

  def session(settings: JsonNode, dir: String): SparkSession = {
    val cpus = settings.get("cpus").asInt
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/local")
    settings.get("spark_conf").fields().asScala.foreach(e => b.config(e.getKey, e.getValue.asText))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val settings = plan.get("settings")
    val work = plan.get("work").asText
    val trace = plan.get("trace").asBoolean
    val workload: Workload = plan.get("workload").asText match {
      case "query_mix" => new Queries(plan)
      case "citybike_load" => new CityBikeLoad(plan)
      case "cdc_fold" => new CdcFold(plan)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // Set-up is timed from the JVM's own start time.
    val spark = session(settings, s"$work/session")
    spark.range(0, 1000, 1, settings.get("cpus").asInt).selectExpr("sum(id)").collect()
    workload.register(spark)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val rec = new Recorder
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val t0 = System.nanoTime()
    workload.run(spark, rec)
    val wallS = (System.nanoTime() - t0) / 1e9
    val traced = tracer.map(_.finish(rec.roots, wallS))
    workload.verify(spark, rec)

    val layers = traced.fold(Map.empty[String, Double]) { case (m, _) =>
      val warehouse = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
      val (warehouseBytes, warehouseFiles) = dataFiles(warehouse)
      val storage = spark.sparkContext.getRDDStorageInfo
      val ops = rec.ops.toSeq
      m ++ workload.layers(rec, warehouse) ++ Map(
        "queries.build_s" -> ops.filter(_.kind == "query").flatMap(_.phases.get("build")).sum,
        "queries.exec_s" -> ops.filter(_.kind == "query").flatMap(_.phases.get("exec")).sum,
        "operators.opcache_keys" -> graft.operators.OpCache.observedKeys(spark).size.toDouble,
        "operators.opcache_alternations" -> graft.operators.OpCache.alternations(spark).size.toDouble,
        "cache.entries" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
        "cache.mb" -> storage.map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0),
        "sources.written_mb" -> warehouseBytes / (1024.0 * 1024.0),
        "sources.files_written" -> warehouseFiles.toDouble)
    }
    val spans = rec.spans.toSeq ++ traced.map(_._2).getOrElse(Nil)
    val result = Map(
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "ops" -> rec.ops.map(o => Map(
        "name" -> o.name, "kind" -> o.kind, "ok" -> o.ok, "error" -> o.error,
        "seconds" -> o.seconds, "rows" -> o.rows, "digest" -> o.digest, "phases" -> o.phases)),
      "layers" -> layers,
      "spans" -> (if (trace) spans.map(s => Map(
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "parent" -> s.parent)) else Nil))
    mapper.writeValue(new File(args(1)), result)
    spark.stop()
  }
}
