package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{BenchSession, SparkEntry, Tables}
import graft.domain.MatchTransform
import graft.functions.Num
import graft.operators.Staged
import graft.queries.Domain
import graft.streaming.Incremental

/** One benchmark run in one JVM: set up, warm up, run the timed
  * closed loop for `--seconds`, and write everything recorded to
  * `--out` as one JSON document. Output checks and metrics are
  * computed from that file by `perfbench/run.py`.
  *
  * Usage (normally through run.py):
  *   graft.perfbench.Main --workload dashboard-read|ingest-ticks
  *     --data <generated inputs> --work <scratch dir> --out <json>
  *     --seconds <n> --setups <n> --trace 0|1 --cpus <n>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = BenchSession.create(opt("cpus"))
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark, opt("trace") == "1")
    val run = new Run(spark, rec, opt("data"), opt("work"), opt("seconds").toDouble,
      opt("setups").toInt)

    run.control() // the first Spark job of a JVM pays class loading and JIT
    val controlStart = run.control()
    val results = opt("workload") match {
      case "dashboard-read" => run.dashboardRead()
      case "ingest-ticks" => run.ingestTicks()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val controlEnd = run.control()
    rec.drain()

    val doc = Map[String, Any](
      "workload" -> opt("workload"),
      "cpus" -> opt("cpus").toInt,
      "control_ms" -> Seq(controlStart, controlEnd),
      "results" -> results,
      "ops" -> rec.ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "phase" -> o.phase,
        "start" -> o.start, "end" -> o.end, "error" -> o.error.orNull)),
      "spans" -> rec.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start" -> s.start, "end" -> s.end)),
      "jobs" -> rec.jobs.map { case (s, st) => Seq(s, st) },
      "tasks" -> rec.tasks,
      "plans" -> rec.plans.map(_.map { case (n, s, e) => Seq(n, s, e) }),
      "progress" -> rec.progress,
      "staged" -> Map("builds" -> Staged.buildTimings.size,
        "build_s" -> Staged.buildTimings.values.sum, "disk_bytes" -> stagedDiskBytes()),
      "jvm" -> jvmStats(),
      "oracle" -> Map("q25" -> SparkEntry.oracleSql("q25_domain_gold"),
        "q52" -> SparkEntry.oracleSql("q52_player_champion_stats")),
    )
    Files.writeString(Paths.get(opt("out")), Json(doc))
    spark.stop()
  }

  private def stagedDiskBytes(): Long =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("graft-stage")).map(Run.du).sum

  private def jvmStats(): Map[String, Any] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
    val peakHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    // VmHWM: the process's peak resident set, as the OS accounts it.
    val hwmKb = scala.util.Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)).getOrElse(0L)
    Map("gc_s" -> gcMs / 1e3, "peak_heap_mb" -> peakHeap / 1048576.0, "peak_rss_mb" -> hwmKb / 1024.0)
  }
}

object Run {
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum else f.length()

  def readLines(path: String): Vector[String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(_.nonEmpty).toVector
}

final class Run(spark: SparkSession, rec: Recorder, data: String, work: String,
    seconds: Double, setups: Int) {

  /** A fixed CPU-bound Spark job, timed at the start and end of every
    * run so box drift between and within runs is visible. */
  def control(): Double = {
    val t = System.nanoTime()
    spark.range(0L, 5000000L, 1L, 4).selectExpr("sum(id % 7)").collect()
    (System.nanoTime() - t) / 1e6
  }

  /** Runs `setups` set-ups; each is one "setup" op. Returns the last
    * set-up's value. Set-up k reads its own copy of the inputs
    * (`<data>/setup<k>`), so per-directory stage memos never hit. */
  private def setupOps[T](f: String => T): T = {
    var last: Option[T] = None
    for (k <- 0 until setups) {
      val r = rec.op("setup", "setup")(f(s"$data/setup$k"))
      if (r.isEmpty) throw new IllegalStateException(s"set-up $k failed: ${rec.ops.last.error.orNull}")
      last = r
    }
    last.get
  }

  /** Defines a frame through a public entry point, charging any stage
    * built while defining it to a nested "stage.build" span. */
  private def define[T](name: String)(f: => T): T = rec.span(s"define.$name") {
    val before = Staged.buildTimings
    val r = f
    val built = Staged.buildTimings.filter { case (k, _) => !before.contains(k) }
    rec.closedSpan("stage.build", built.values.sum * 1e3)
    r
  }

  private def timedLoop(body: Int => Unit): Unit = {
    val deadline = rec.nowMs + seconds * 1e3
    var i = 0
    while (rec.nowMs < deadline) { body(i); i += 1 }
  }

  // ---- dashboard-read ---------------------------------------------

  /** The reference API's serving read: one closed-loop client, each
    * read = `MatchTransform.playerStats` over the staged narrow silver
    * (built by q24's define) with both frames collected. */
  def dashboardRead(): Map[String, Any] = {
    val q24 = SparkEntry.queries("q24_domain_transform")
    val silver = setupOps(dir => define("q24")(q24(spark, dir)))
    val players = Run.readLines(s"$data/players.txt")
    val reads = ArrayBuffer.empty[Map[String, Any]]

    def read(i: Int, phase: String): Unit = {
      val puuid = players(i % players.size)
      val op = rec.ops.size
      rec.op("read", phase) {
        val (recent, stats) = define("playerStats")(MatchTransform.playerStats(silver, puuid))
        val r = rec.span("execute.recent")(recent.select("matchId").collect())
        val s = rec.span("execute.stats")(stats
          .select("champion", "games", "wins", "avg_kda", "winrate").collect())
        (r, s)
      }.foreach { case (r, s) =>
        if (phase == "timed") reads += Map("op" -> op, "puuid" -> puuid,
          "recent" -> r.map(_.getString(0)).toSeq,
          "stats" -> s.map(row => row.toSeq).toSeq)
      }
    }

    // untimed warm-up: JIT, codegen and file-index caches fill here
    for (i <- 0 until 5) read(players.size - 1 - i, "warmup")
    timedLoop(i => read(i, "timed"))
    Map("reads" -> reads)
  }

  // ---- ingest-ticks -----------------------------------------------

  /** The reference's extract → transform → gold loop. Set-up stages
    * the bronze payload of every increment (`Domain.bronzeFromOrders`
    * over the generated orders) and the summoners dim. Per tick, one
    * increment lands as parquet stamped with landing time, one
    * `Incremental.runOnce` poll runs to completion, and a `readGold` +
    * collect serves three of the stream's players. */
  def ingestTicks(): Map[String, Any] = {
    val plan = Run.readLines(s"$data/ingest_plan.txt").map(_.split(" ").toVector)
    val streams = plan.head(0).toInt
    val ticks = plan.head(1).toInt
    val goldPlayers = plan.tail.map(_.toSeq)
    val staged = setupOps { dir =>
      val out = s"$work/${new File(dir).getName}"
      val bronze = define("bronze") {
        val incs = spark.read.parquet(s"$dir/increments.parquet")
          .select(col("o_orderkey").cast("string").as("matchId"), col("stream"), col("tick"))
        incs.join(Domain.bronzeFromOrders(Tables.orders(spark, dir)), "matchId")
      }
      rec.span("execute.bronze")(bronze.write.partitionBy("stream", "tick").parquet(s"$out/bronze"))
      val dim = define("dim")(Domain.dimFromCustomer(Tables.customer(spark, dir)))
      rec.span("execute.dim")(dim.write.parquet(s"$out/dim"))
      out
    }
    val dim = spark.read.parquet(s"$staged/dim")

    val goldReads = ArrayBuffer.empty[Map[String, Any]]
    val finals = ArrayBuffer.empty[Map[String, Any]]
    val runIds = ArrayBuffer.empty[Map[String, Any]]
    val layout = ArrayBuffer.empty[Map[String, Any]]

    def goldFrame(goldDir: String, players: Option[Seq[String]]): DataFrame = {
      val g = Incremental.readGold(spark, goldDir).get
      players.fold(g)(ps => g.filter(col("puuid").isin(ps: _*)))
        .select(col("puuid"), col("champion"), col("games"), col("wins"),
          Num.fround(col("kda_sum"), 2).as("kda_sum"))
    }

    /** One replay of a stream into fresh directories, a tick at a time. */
    final class Pass(p: Int, stream: Int, phase: String) {
      private val dir = s"$work/$phase$p"
      private val (bronzeDir, silverDir, goldDir, ckpt) =
        (s"$dir/bronze", s"$dir/silver", s"$dir/gold", s"$dir/ckpt")
      Files.createDirectories(Paths.get(bronzeDir))
      private var landedBytes = 0L
      private var done = 0

      def tick(): Unit = {
        val t = done
        done += 1
        rec.op("tick", phase) {
          landedBytes += rec.span("land")(
            land(s"$staged/bronze/stream=$stream/tick=$t", bronzeDir, s"$dir/landing$t", t))
          val q = define("runOnce")(Incremental.runOnce(spark, bronzeDir, dim, silverDir, goldDir, ckpt))
          runIds += Map("run_id" -> q.runId.toString, "op" -> rec.ops.size, "pass" -> p,
            "phase" -> phase)
          rec.span("execute.await")(q.awaitTermination())
          q.exception.foreach(e => throw e)
        }
        val players = goldPlayers(stream)
        val op = rec.ops.size
        rec.op("gold_read", phase) {
          val g = define("readGold")(goldFrame(goldDir, Some(players)))
          rec.span("execute.collect")(g.collect())
        }.foreach { rows =>
          if (phase == "timed") goldReads += Map("op" -> op, "pass" -> p, "stream" -> stream,
            "tick" -> t, "players" -> players, "rows" -> rows.map(_.toSeq).toSeq)
        }
      }

      /** Untimed: the pass's final gold (for the check) and its layout. */
      def finish(): Unit = {
        finals += Map("pass" -> p, "stream" -> stream, "ticks" -> done,
          "rows" -> goldFrame(goldDir, None).collect().map(_.toSeq).toSeq)
        val gold = new File(goldDir)
        val files = Files.walk(gold.toPath).iterator().asScala.map(_.toFile)
          .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
        layout += Map("pass" -> p,
          "gold_versions" -> Option(gold.listFiles).toSeq.flatten.count(_.getName.startsWith("v=")),
          "gold_files" -> files.size, "gold_bytes" -> files.map(_.length).sum,
          "silver_bytes" -> Run.du(new File(silverDir)), "landed_bytes" -> landedBytes,
          "input_rows" -> spark.read.parquet(silverDir).count())
      }
    }

    // Untimed warm-up: the first ticks of a JVM run slower (streaming
    // code paths; the second is the first merge into existing gold), so
    // two ticks of the last stream go first.
    val warm = new Pass(0, streams - 1, "warmup")
    for (_ <- 0 until 2) warm.tick()
    // Timed ticks until the deadline; every `ticks` ticks a new pass
    // replays the next stream into fresh directories.
    var pass: Pass = null
    timedLoop { i =>
      if (i % ticks == 0) {
        if (pass != null) pass.finish()
        pass = new Pass(i / ticks, (i / ticks) % streams, "timed")
      }
      pass.tick()
    }
    pass.finish()
    Map("gold_reads" -> goldReads, "finals" -> finals, "run_ids" -> runIds, "layout" -> layout,
      "streams" -> streams, "ticks" -> ticks)
  }

  /** Lands one increment: the staged payload stamped with landing time
    * (Incremental's watermark contract), written aside and then moved
    * into the bronze directory so the file source sees whole files. */
  private def land(src: String, bronzeDir: String, tmp: String, tick: Int): Long = {
    spark.read.parquet(src).withColumn("timestamp", current_timestamp())
      .write.parquet(tmp)
    val parts = new File(tmp).listFiles.filter(_.getName.endsWith(".parquet"))
    val bytes = parts.map(_.length).sum
    parts.foreach(f => Files.move(f.toPath, Paths.get(bronzeDir, s"t$tick-${f.getName}"),
      StandardCopyOption.ATOMIC_MOVE))
    bytes
  }
}

/** Minimal JSON writer for the run document. */
object Json {
  def apply(v: Any): String = { val sb = new StringBuilder; write(sb, v); sb.toString }
  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => sb.append('"'); s.foreach {
        case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }; sb.append('"')
    case b: Boolean => sb.append(b)
    case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => write(sb, f.toDouble)
    case n: Number => sb.append(n.toString)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(','); write(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case a: Array[_] => write(sb, a.toSeq)
    case it: Iterable[_] =>
      sb.append('[')
      it.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); write(sb, x) }
      sb.append(']')
    case other => write(sb, other.toString)
  }
}
