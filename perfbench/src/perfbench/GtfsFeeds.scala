package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.util.Random

/** Seeded, metro-shaped GTFS feeds and, computed in plain Scala without
  * Spark, what the pipeline must return for them.
  */
object GtfsFeeds {
  final case class Stop(id: String, name: String, lat: Double, lon: Double)
  final case class Service(flags: Array[Boolean], start: LocalDate, end: LocalDate)
  /** One trip's calls: stop index, arrival seconds, and whether the row
    * breaks the CHECK constraint (pickup_type out of range) and is
    * quarantined by the loader.
    */
  final case class Trip(id: String, route: String, service: String,
                        calls: Array[(Int, Long, Boolean)])
  final case class Feed(provider: String, version: Int, stops: Array[Stop],
                        services: Map[String, Service],
                        exceptions: Seq[(String, LocalDate, Int)],
                        trips: Array[Trip], zip: Array[Byte]) {
    /** Rows `loadArchive` appends per table. */
    def counts: Map[String, Long] = Map(
      "stops" -> stops.length.toLong,
      "calendar" -> services.size.toLong,
      "calendar_dates" -> exceptions.size.toLong,
      "trips" -> trips.length.toLong,
      "stop_times" -> trips.map(_.calls.count(!_._3)).sum.toLong)

    /** Whether `service` runs on `d`: by the weekly calendar unless a
      * type-2 exception removes it, or by a type-1 exception.
      */
    def active(service: String, d: LocalDate): Boolean = {
      val weekly = services.get(service).exists(s =>
        s.flags(d.getDayOfWeek.getValue - 1) && !d.isBefore(s.start) && !d.isAfter(s.end))
      val ex = exceptions.collectFirst { case (`service`, `d`, t) => t }
      ex match {
        case Some(2) => false
        case Some(1) => true
        case _ => weekly
      }
    }

    /** Arrivals on service date `d` at stops inside every circle
      * (lat, lon, radius in metres).
      */
    def arrivals(d: LocalDate, circles: (Double, Double, Double)*): Long =
      trips.filter(t => active(t.service, d)).map(_.calls.count { case (s, _, bad) =>
        !bad && circles.forall { case (lat, lon, r) =>
          haversine(lat, lon, stops(s).lat, stops(s).lon) <= r }
      }).sum.toLong
  }

  /** Great-circle metres, the same formula as `graft.functions.geo`. */
  def haversine(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2) - math.toRadians(lat1)
    val dLon = math.toRadians(lon2) - math.toRadians(lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon / 2), 2)
    2 * 6371000.0 * math.atan2(math.sqrt(a), math.sqrt(1.0 - a))
  }

  /** Feed size knobs. A route runs `tripsPerService` weekday trips, half
    * as many (rounded down) on each weekend day and one extra-service trip,
    * each calling at `callsPerTrip` stops.
    */
  final case class Shape(stops: Int, routes: Int, callsPerTrip: Int, tripsPerService: Int)
  /** 100 800 stop_times in 4 200 trips: a quarter of the ~430k-stop_times
    * feed the pipeline was first measured on (a load of 3.4-5.4 s at 4
    * cores), which is what fits the run-time budget (see README.md); a
    * whole VBB feed has about 1e7.
    */
  val full = Shape(stops = 3000, routes = 200, callsPerTrip = 24, tripsPerService = 10)
  val tiny = Shape(stops = 40, routes = 4, callsPerTrip = 6, tripsPerService = 3)

  /** Appends `secs` as GTFS HH:MM:SS (hours may pass 24). */
  private def gtfsTime(b: java.lang.StringBuilder, secs: Long): java.lang.StringBuilder = {
    def two(v: Long) = { if (v < 10) b.append('0'); b.append(v) }
    two(secs / 3600); b.append(':'); two(secs / 60 % 60); b.append(':'); two(secs % 60)
  }
  private def ymd(d: LocalDate) = d.toString.replace("-", "")

  /** A provider's stops (the same in every timetable version), scattered
    * over a ~20 km disc, denser towards the centre.
    */
  def stopsOf(provider: String, lat: Double, lon: Double, seed: Long, shape: Shape): Array[Stop] = {
    val rnd = new Random(seed * 7919L + provider.hashCode)
    Array.tabulate(shape.stops) { i =>
      val r = 20000.0 * math.pow(rnd.nextDouble(), 0.8)
      val th = rnd.nextDouble() * 2 * math.Pi
      Stop(s"${provider}_s$i", s"$provider stop $i",
        lat + r * math.cos(th) / 111320.0,
        lon + r * math.sin(th) / (111320.0 * math.cos(math.toRadians(lat))))
    }
  }

  /** `radius` nudged until no stop lies within half a metre of the
    * circle, so float rounding cannot decide a stop's side.
    */
  def clearRadius(stops: Seq[Stop], lat: Double, lon: Double, radius: Double): Double = {
    val ds = stops.map(s => haversine(lat, lon, s.lat, s.lon))
    Iterator.iterate(radius)(_ + 37.0).find(r => ds.forall(x => math.abs(x - r) > 0.5)).get
  }

  /** Version `version` of `provider`'s timetable around (lat, lon), valid
    * from `from` for `days` days.
    */
  def feed(provider: String, lat: Double, lon: Double, version: Int, seed: Long,
           shape: Shape, from: LocalDate, days: Int): Feed = {
    val stops = stopsOf(provider, lat, lon, seed, shape)
    val rnd = new Random(seed * 7919L + provider.hashCode * 31L + version)
    val start = from.minusDays(3)
    val end = from.plusDays(days + 30L)
    def flags(on: Int*) = Array.tabulate(7)(i => on.contains(i))
    val services = Map(
      "WD" -> Service(flags(0, 1, 2, 3, 4), start, end),
      "SA" -> Service(flags(5), start, end),
      "SU" -> Service(flags(6), start, end))
    // one exception of each kind, all on the last simulated day, the day
    // the client asks about: the weekday service removed, the Saturday
    // service added, and a service that only exists through its added
    // date. Each decides the checked arrivals, and every seed asks for the
    // same amount of service (a seeded date would drop a provider's
    // weekday service on the requested day in about one seed in three).
    val last = from.plusDays(days - 1L)
    val exceptions = Seq(("WD", last, 2), ("SA", last, 1), ("XTRA", last, 1))
    // shift of the whole timetable by version, so each new timetable has
    // new content (and a new checksum)
    val shift = version * 60L
    val routes = (0 until shape.routes).map(r => s"${provider}_r$r" ->
      rnd.shuffle(stops.indices.toList).take(shape.callsPerTrip).toArray)
    var tripNo = 0
    val trips = for {
      (route, path) <- routes
      (svc, n) <- Seq("WD" -> shape.tripsPerService, "SA" -> shape.tripsPerService / 2,
        "SU" -> shape.tripsPerService / 2, "XTRA" -> 1)
      k <- 0 until n
    } yield {
      // first departures spread 05:00-23:40, so late trips run past 24:00
      val dep = 5 * 3600L + (k * 67000L / math.max(1, n)) + rnd.nextInt(600) + shift
      var t = dep
      val calls = path.map { s =>
        t += 60 + rnd.nextInt(180)
        (s, t, rnd.nextInt(500) == 0)
      }
      tripNo += 1
      Trip(s"${provider}_t$tripNo", route, svc, calls)
    }
    val base = Feed(provider, version, stops, services, exceptions, trips.toArray,
      Array.emptyByteArray)
    base.copy(zip = zipOf(base))
  }

  private def zipOf(f: Feed): Array[Byte] = {
    val stops = "stop_id,stop_name,stop_lat,stop_lon\n" +
      f.stops.map(s => s"${s.id},${s.name},${s.lat},${s.lon}").mkString("\n")
    val calendar = "service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date\n" +
      f.services.toSeq.sortBy(_._1).map { case (id, s) =>
        (id +: s.flags.map(b => if (b) "1" else "0").toSeq :+ ymd(s.start) :+ ymd(s.end)).mkString(",")
      }.mkString("\n")
    val calendarDates = "service_id,date,exception_type\n" +
      f.exceptions.map { case (s, d, t) => s"$s,${ymd(d)},$t" }.mkString("\n")
    val trips = "route_id,service_id,trip_id\n" +
      f.trips.map(t => s"${t.route},${t.service},${t.id}").mkString("\n")
    val stopTimes = new java.lang.StringBuilder(
      "trip_id,arrival_time,departure_time,stop_id,stop_sequence,pickup_type,drop_off_type\n")
    f.trips.foreach { t =>
      t.calls.zipWithIndex.foreach { case ((s, secs, bad), i) =>
        stopTimes.append(t.id).append(',')
        gtfsTime(stopTimes, secs).append(',')
        gtfsTime(stopTimes, secs + 30).append(',')
        stopTimes.append(f.stops(s).id).append(',').append(i + 1).append(',')
          .append(if (bad) 7 else 0).append(",0\n")
      }
    }
    val members = Seq("stops.txt" -> stops, "calendar.txt" -> calendar,
      "calendar_dates.txt" -> calendarDates, "trips.txt" -> trips,
      "stop_times.txt" -> stopTimes.toString)
    val bytes = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bytes)
    // fastest deflate: default compression would make generation, timed
    // in set-up, five times slower for a quarter fewer bytes
    z.setLevel(java.util.zip.Deflater.BEST_SPEED)
    members.foreach { case (name, body) =>
      val e = new ZipEntry(name)
      e.setTime(0L)
      z.putNextEntry(e)
      z.write(body.getBytes(StandardCharsets.UTF_8))
      z.closeEntry()
    }
    z.close()
    bytes.toByteArray
  }
}
