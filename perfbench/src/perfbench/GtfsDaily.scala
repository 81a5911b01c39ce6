package perfbench

import graft.gtfs.{ArrivalsQuery, GtfsLoad}
import graft.ingest.Ingest
import graft.streaming.{Replay, Streams}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.LocalDate
import scala.collection.mutable

/** The paper's pipeline, one simulated day after another. Each day every
  * provider makes one delivery through `Ingest.runProviderIngest` (a new
  * timetable, identical bytes under a new date, or a re-delivered date);
  * then, from the second day on, per provider, the client asks for one day
  * of arrivals around a point and replays them into a geo-filtered stream;
  * it also plans one single-leg journey a day on a seeded provider.
  * A pass starts from an empty warehouse and landing area.
  */
final class GtfsDaily(a: Args) extends Workload {
  import GtfsDaily._

  private val shape = if (a.smoke) GtfsFeeds.tiny else GtfsFeeds.full
  private val days = 2
  private val firstDay = LocalDate.parse("2026-03-02")
  private var deliveries: Seq[Seq[Delivery]] = Nil
  private var feeds: Map[(String, Int), GtfsFeeds.Feed] = Map.empty

  def prepare(spark: SparkSession, dir: Path): Unit = {
    val rnd = new scala.util.Random(a.seed)
    // day 0: every provider's first timetable; later days: each delivery
    // kind once per day, shuffled over the providers by the seed
    val kinds = Seq(NewTimetable) +: (1 until days).map(_ =>
      rnd.shuffle(Seq(NewTimetable, SameBytes, Redelivered)))
    val version = mutable.Map(providers.map(_.id -> 0): _*)
    deliveries = kinds.zipWithIndex.map { case (ks, day) =>
      providers.zipWithIndex.map { case (p, i) =>
        val k = if (day == 0) NewTimetable else ks(i)
        if (k == NewTimetable) version(p.id) += 1
        Delivery(p, day, k, version(p.id))
      }
    }
    // the feeds are independent: one per core
    import scala.concurrent.ExecutionContext.Implicits.global
    feeds = scala.concurrent.Await.result(scala.concurrent.Future.sequence(
      deliveries.flatten.map(d => (d.provider, d.version)).distinct.map { case (p, v) =>
        scala.concurrent.Future(
          (p.id, v) -> GtfsFeeds.feed(p.id, p.lat, p.lon, v, a.seed, shape, firstDay, days))
      }), scala.concurrent.duration.Duration.Inf).toMap
  }

  // per-run accumulators for the workload's own metrics
  private val loadS = mutable.ArrayBuffer.empty[Double]
  private val noopS = mutable.ArrayBuffer.empty[Double]
  private val arrivalsS = mutable.ArrayBuffer.empty[Double]
  private val journeyS = mutable.ArrayBuffer.empty[Double]
  private var rowsAppended, rowsQuarantined, loadedFeedBytes, warehouseBytes = 0L
  private var downloadBytes, replayed, kept, batches, delivered, loaded = 0L
  private var fetchNs, collectNs, emitNs, replayNs = 0L

  private val fetcher = new Ingest.Fetcher {
    val pages = mutable.Map.empty[String, String]
    val blobs = mutable.Map.empty[String, Array[Byte]]
    def fetchPage(url: String): String = {
      val t0 = System.nanoTime()
      try pages(url) finally fetchNs += System.nanoTime() - t0
    }
    def download(url: String, dest: Path): Unit = {
      val t0 = System.nanoTime()
      try {
        Files.write(dest, blobs(url))
        downloadBytes += blobs(url).length
      } finally fetchNs += System.nanoTime() - t0
    }
  }

  def pass(ctx: Ctx, passNo: Int): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val base = ctx.workDir.resolve(s"gtfs-pass$passNo")
    val loader = new TracedLoad(spark, base.resolve("warehouse").toString, t)
    val landing = base.resolve("landing")
    val rnd = new scala.util.Random(a.seed * 31L + passNo)
    val lastLoaded = mutable.Map.empty[String, (String, Int)]
    val committed = mutable.Map.empty[String, Set[String]].withDefaultValue(Set.empty)
    val streams = t.span("streaming.start") {
      providers.map(p => p.id -> new ProviderStream(spark, p, s"p${passNo}_${p.id}",
        GtfsFeeds.clearRadius(GtfsFeeds.stopsOf(p.id, p.lat, p.lon, a.seed, shape), p.lat, p.lon, 6000))).toMap
    }
    var planted = a.plantWrong

    deliveries.foreach { day =>
      val date = firstDay.plusDays(day.head.day.toLong)
      day.foreach { d =>
        val p = d.provider
        val feed = feeds((p.id, d.version))
        val url = s"mem://${p.id}/v${d.version}.zip"
        fetcher.pages(p.page) = s"""<html><a href="$url" class="gtfs-download">GTFS</a></html>"""
        fetcher.blobs(url) = feed.zip
        val runDate = if (d.kind == Redelivered) lastLoaded(p.id)._1 else date.toString
        val expected = d.kind match {
          case NewTimetable =>
            Ingest.Loaded(runDate, feed.counts)
          case SameBytes => Ingest.DuplicateContent
          case Redelivered => Ingest.AlreadyLoaded
        }
        val t0 = System.nanoTime()
        val appended0 = loader.appended
        val quarantined0 = loader.quarantined
        ctx.op("deliver", s"${p.id} ${d.kind} $runDate") {
          t.span("ingest.runProviderIngest") {
            Ingest.runProviderIngest(p.spec, fetcher, landing, loader, runDate)
          }
        } { got => if (got == expected) None else Some(s"got $got, expected $expected") }
        val secs = (System.nanoTime() - t0) / 1e9
        delivered += 1
        if (d.kind == NewTimetable) {
          loaded += 1
          loadS += secs
          loadedFeedBytes += feed.zip.length
          rowsAppended += loader.appended - appended0
          rowsQuarantined += loader.quarantined - quarantined0
          lastLoaded(p.id) = (runDate, d.version)
        } else noopS += secs
        if (d.kind != Redelivered) committed(p.id) += runDate
      }
      ctx.op("discover", s"day ${day.head.day}") {
        t.span("ingest.discover")(Ingest.discoverArchives(landing))
      } { got => if (got == committed.toMap) None else Some(s"catalog $got") }

      // requests from the second day on: the first day only brings the
      // providers' first timetables
      if (day.head.day > 0) providers.foreach { p =>
        val feed = feeds((p.id, lastLoaded(p.id)._2))
        val cLat = p.lat + (rnd.nextDouble() - 0.5) * 0.05
        val cLon = p.lon + (rnd.nextDouble() - 0.5) * 0.08
        // the circle holds a quarter of the stops wherever its seeded
        // centre falls, so every seed asks for about the same work
        val ds = feed.stops.map(s => GtfsFeeds.haversine(cLat, cLon, s.lat, s.lon)).sorted
        val radius = GtfsFeeds.clearRadius(feed.stops, cLat, cLon, ds(ds.length / 4))
        val want = feed.arrivals(date, (cLat, cLon, radius))
        val t0 = System.nanoTime()
        val rows = ctx.op("arrivals", s"${p.id} $date") {
          val run = t.span("gtfs.latest_run")(latestRun(loader, p.id))
          def tbl(n: String) = loader.table(n).filter(col("run_id") === run)
          val json = t.span("gtfs.arrivals") {
            val arr = ArrivalsQuery.arrivalsWithExceptions(tbl("calendar"),
              tbl("calendar_dates"), tbl("trips"), tbl("stop_times"), tbl("stops"),
              date.toString, date.plusDays(1).toString)
            ArrivalsQuery.toArrivalJson(ArrivalsQuery.withinRadius(arr, cLat, cLon, radius))
              .collect().map(_.getString(0))
          }
          if (planted) { planted = false; json :+ json.head } else json
        } { got => if (got.length == want) None else Some(s"${got.length} arrivals, expected $want") }
        arrivalsS += (System.nanoTime() - t0) / 1e9

        rows.foreach { json =>
          val s = streams(p.id)
          val wantKept = feed.arrivals(date, (cLat, cLon, radius), (p.lat, p.lon, s.radius))
          val r0 = System.nanoTime()
          ctx.op("replay", s"${p.id} $date") {
            t.span("streaming.replay")(s.replay(json))
            t.span("streaming.geo")(s.process())
          } { got => if (got == wantKept) None else Some(s"sink got $got rows, expected $wantKept") }
          replayNs += System.nanoTime() - r0
          replayed += json.length
        }
      }
      // one journey a day, from a seeded stop of a seeded provider
      if (day.head.day > 0) {
        val p = providers(rnd.nextInt(providers.size))
        val feed = feeds((p.id, lastLoaded(p.id)._2))
        val origin = feed.stops(rnd.nextInt(feed.stops.length)).id
        val depart = 7 * 3600L + rnd.nextInt(3600)
        val j0 = System.nanoTime()
        ctx.op("journey", s"${p.id} $date from $origin") {
          val run = t.span("gtfs.latest_run")(latestRun(loader, p.id))
          def tbl(n: String) = loader.table(n).filter(col("run_id") === run)
          t.span("gtfs.journey") {
            ArrivalsQuery.earliestArrivals(tbl("calendar"), tbl("calendar_dates"), tbl("trips"),
              tbl("stop_times"), tbl("stops"), tbl("transfers"), origin, date.toString, depart,
              maxRounds = 1)
              .collect()
          }
        } { got =>
          val reached = got.filter(_.getString(1) == origin).map(r => r.getAs[Any]("arr_secs"))
          if (got.length != feed.stops.length) Some(s"${got.length} stops, expected ${feed.stops.length}")
          else if (!reached.sameElements(Seq(depart))) Some(s"origin label $reached, expected $depart")
          else None
        }
        journeyS += (System.nanoTime() - j0) / 1e9
      }
    }
    t.span("streaming.stop")(streams.values.foreach { s =>
      kept += s.sunk; batches += s.batches; collectNs += s.collectNs; emitNs += s.emitNs
      s.stop()
    })
    warehouseBytes += Main.dirBytes(base.resolve("warehouse"))
  }

  override def report(ctx: Ctx, r: Report, spans: Seq[Span],
                      jobs: Seq[(JobStats, Option[Span])]): Unit = {
    val passes = math.max(1, ctx.ops.count(_.kind == "discover") / days).toDouble
    r.median("load_p50_s", loadS.toSeq)
    r.median("noop_ingest_p50_s", noopS.toSeq)
    r.median("arrivals_p50_s", arrivalsS.toSeq)
    r.median("journey_p50_s", journeyS.toSeq)
    r.put("load_rows_per_s", rowsAppended / loadS.sum, "1/s", loadS.size)
    r.put("replay_events_per_s", replayed / (replayNs / 1e9), "1/s", ctx.ops.count(_.kind == "replay"))
    r.put("warehouse_bytes_per_feed_byte", warehouseBytes.toDouble / loadedFeedBytes, "ratio", loaded.toInt)
    r.field("deliveries", delivered)
    r.field("feed_stop_times", feeds.values.headOption.map(_.trips.map(_.calls.length).sum))
    def total(n: String) = spans.filter(_.name == n).map(_.seconds).sum / passes
    def jobsIn(prefix: String) =
      jobs.count(_._2.exists(s => Iterator.iterate(Option(s))(_.flatMap(_.parent))
        .takeWhile(_.isDefined).exists(_.get.name == prefix))) / passes
    def mbIn(prefix: String, f: JobStats => Long) =
      jobs.filter(_._2.exists(s => Iterator.iterate(Option(s))(_.flatMap(_.parent))
        .takeWhile(_.isDefined).exists(_.get.name == prefix))).map(j => f(j._1)).sum / 1048576.0 / passes
    r.put("ingest.fetch_s", fetchNs / 1e9 / passes, "s")
    r.put("ingest.download_mb", downloadBytes / 1048576.0 / passes, "MB")
    r.put("ingest.discover_s", total("ingest.discover"), "s")
    r.put("ingest.loaded_ratio", loaded.toDouble / delivered, "ratio", delivered.toInt)
    r.put("gtfs.load.rows_appended", rowsAppended / passes, "count")
    r.put("gtfs.load.rows_quarantined", rowsQuarantined / passes, "count")
    if (a.trace) {
      r.put("gtfs.load.append_s", total("gtfs.load.append"), "s")
      r.put("gtfs.load.identify_s", total("gtfs.load.identify"), "s")
      r.put("gtfs.load.checksum_s", total("gtfs.load.checksum"), "s")
      // the loader's own time outside identify/checksum/append: manifest
      // lookup, provider and run registration, unzip, run-row commit
      r.put("gtfs.load.bookkeeping_s", total("gtfs.load.bookkeeping") +
        spans.filter(_.name == "gtfs.load").map(_.selfSeconds).sum / passes, "s")
      r.put("gtfs.load.jobs", jobsIn("gtfs.load"), "count")
      r.put("gtfs.load.input_mb", mbIn("gtfs.load.append", _.inputB), "MB")
      r.put("gtfs.load.output_mb", mbIn("gtfs.load.append", _.outputB), "MB")
      r.put("gtfs.arrivals.exec_s", total("gtfs.arrivals"), "s")
      r.put("gtfs.arrivals.rows", replayed / passes, "count")
      r.put("gtfs.arrivals.input_mb", mbIn("gtfs.arrivals", _.inputB), "MB")
      r.put("gtfs.arrivals.jobs", jobsIn("gtfs.arrivals"), "count")
      r.put("gtfs.journey.s", total("gtfs.journey"), "s")
      r.put("gtfs.journey.jobs", jobsIn("gtfs.journey"), "count")
      r.put("streaming.replay.collect_s", collectNs / 1e9 / passes, "s")
      r.put("streaming.replay.emit_s", emitNs / 1e9 / passes, "s")
      r.put("streaming.geo.process_s", total("streaming.geo"), "s")
      r.put("streaming.geo.kept_ratio", kept.toDouble / math.max(1L, replayed), "ratio")
      r.put("streaming.batches", batches / passes, "count")
      // the calls that make up wall_s, self time each, against wall_s
      val calls = Seq("ingest.runProviderIngest", "ingest.discover", "gtfs.latest_run",
        "gtfs.arrivals", "streaming.start", "streaming.replay", "streaming.geo",
        "streaming.stop", "gtfs.journey", "sessions.release")
      val callsS = calls.map(total).sum
      r.field("wall_accounting", Map(
        "calls_s" -> callsS,
        "unaccounted_s" -> (r.metrics("wall_s").value - callsS),
        "ops_self_s" -> spans.filter(_.name.startsWith("op.")).map(_.selfSeconds).sum / passes,
        "pass_self_s" -> spans.filter(_.name == "pass").map(_.selfSeconds).sum / passes))
    }
  }
}

object GtfsDaily {
  sealed trait Kind
  case object NewTimetable extends Kind
  case object SameBytes extends Kind
  case object Redelivered extends Kind

  final case class Provider(id: String, lat: Double, lon: Double) {
    val page = s"mem://$id/index.html"
    val spec = Ingest.ProviderSpec(id, page,
      Ingest.UrlExtractor("""<a href="([^"]*)" class="gtfs-download">""".r))
  }
  /** The reference DAG's three providers, around their city centres. */
  val providers = Seq(Provider("vbb", 52.5200, 13.4050), Provider("vrs", 50.9375, 6.9603),
    Provider("kvv", 49.0069, 8.4037))

  final case class Delivery(provider: Provider, day: Int, kind: Kind, version: Int)

  def latestRun(loader: GtfsLoad, provider: String): Int =
    loader.table("run").filter(col("provider_id") === provider)
      .agg(max(col("run_id"))).head().getInt(0)

  /** The loader with its public steps timed as layer spans. */
  final class TracedLoad(spark: SparkSession, wh: String, t: Tracer) extends GtfsLoad(spark, wh) {
    var appended, quarantined = 0L
    override def loadArchive(p: String, d: String, zip: String): Option[Map[String, Long]] =
      t.span("gtfs.load")(super.loadArchive(p, d, zip))
    override def identifyNewRuns(c: Seq[(String, String)]): Seq[(String, String)] =
      t.span("gtfs.load.identify")(super.identifyNewRuns(c))
    override def archiveChecksum(zip: String): Long =
      t.span("gtfs.load.checksum")(super.archiveChecksum(zip))
    override def checkAndRecordChecksum(p: String, d: String, c: Long): Boolean =
      t.span("gtfs.load.checksum")(super.checkAndRecordChecksum(p, d, c))
    override def registerProvider(p: String): Unit =
      t.span("gtfs.load.bookkeeping")(super.registerProvider(p))
    override def nextRunId(): Int = t.span("gtfs.load.bookkeeping")(super.nextRunId())
    override def appendTable(name: String, df: DataFrame, run: Int, p: String): (Long, Long) =
      t.span("gtfs.load.append") {
        val r = super.appendTable(name, df, run, p)
        appended += r._1
        quarantined += r._2
        r
      }
  }

  /** One provider's live stream: replayed arrival JSON -> parse -> geo
    * filter around the city centre -> wire format -> memory sink.
    */
  final class ProviderStream(spark: SparkSession, p: Provider, name: String, val radius: Double) {
    private val input = MemoryStream[String](spark.implicits.newStringEncoder, spark)
    private val query: StreamingQuery =
      Streams.toArrivalValue(Streams.geoFilter(Streams.parseArrivals(input.toDF()),
        p.lat, p.lon, radius))
        .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append).start()
    var sunk, collectNs, emitNs = 0L
    private val localTime = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

    /** Event-time replay at infinite speed-up: records are emitted in
      * 5000-row micro-batches.
      */
    def replay(json: Array[String]): Unit = {
      val buf = mutable.ArrayBuffer.empty[String]
      def flush(): Unit = if (buf.nonEmpty) { input.addData(buf.toSeq); buf.clear() }
      val records = json.iterator.map { s =>
        val t0 = System.nanoTime()
        val i = s.indexOf("\"local-time\":\"") + 14
        val ts = Timestamp.valueOf(java.time.LocalDateTime.parse(s.substring(i, i + 19), localTime))
        collectNs += System.nanoTime() - t0
        (ts, s)
      }
      Replay.replay[String](records, { case (_, v) =>
        val t0 = System.nanoTime()
        buf += v
        if (buf.size >= 5000) flush()
        emitNs += System.nanoTime() - t0
      }, speedup = Double.PositiveInfinity)
      val t0 = System.nanoTime()
      flush()
      emitNs += System.nanoTime() - t0
    }

    /** Runs the stream to the end of its input; returns the rows sunk. */
    def process(): Long = {
      query.processAllAvailable()
      val n = spark.table(name).count()
      val delta = n - sunk
      sunk = n
      delta
    }

    /** Micro-batches that carried input (the last 100 are kept). */
    def batches: Long = query.recentProgress.count(_.numInputRows > 0).toLong

    /** Stops the stream and drops its sink: the client has checked the
      * rows, so they do not count towards the heap the pass leaves behind.
      */
    def stop(): Unit = {
      query.stop()
      spark.catalog.dropTempView(name)
    }
  }
}
