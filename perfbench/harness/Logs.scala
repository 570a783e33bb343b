package graftbench

import java.time.{Instant, LocalDate, ZoneOffset}

import scala.util.Random

/**
 * The synthetic log model shared by the generator and its tally: a
 * muskie-style request record written as one ndjson line. Nothing here
 * calls graft; the tally is a plain record-by-record evaluation of
 * dragnet's documented semantics (krill three-valued filters, drop on a
 * missing or unparseable field, ceil-seconds time bounds, power-of-two
 * and linear buckets).
 */
final case class Rec(
    timeMs: Long,
    /** raw `time` field: None = absent, Some("invalid") = unparseable */
    time: Option[String],
    method: Option[String],
    status: Option[Long],
    latency: Option[Long],
    host: String,
    op: String) {

  def timeOk: Boolean = time.exists(_ != Rec.BadTime)
  def secs: Long = Math.floorDiv(timeMs, 1000L)

  /** Field lookup by dragnet's dotted path; None = missing. */
  def get(field: String): Option[Any] = field match {
    case "req.method" => method
    case "res.statusCode" => status
    case "latency" => latency
    case "host" => Some(host)
    case "operation" => Some(op)
    case "time" => time
  }

  def json: String = {
    val sb = new StringBuilder(200)
    sb.append('{')
    time.foreach(t => sb.append("\"time\":\"").append(t).append("\","))
    method.foreach { m =>
      sb.append("\"req\":{\"method\":\"").append(m)
        .append("\",\"caller\":\"poseidon\"},")
    }
    status.foreach(s => sb.append("\"res\":{\"statusCode\":").append(s).append("},"))
    latency.foreach(l => sb.append("\"latency\":").append(l).append(','))
    sb.append("\"host\":\"").append(host).append("\",\"operation\":\"")
      .append(op).append("\"}")
    sb.toString
  }
}

object Rec {
  val BadTime = "invalid"
  val Methods = Vector("GET" -> 55, "PUT" -> 20, "POST" -> 10, "DELETE" -> 8, "HEAD" -> 7)
  val Statuses = Vector(200L -> 60, 201L -> 8, 204L -> 7, 304L -> 5, 400L -> 5,
    404L -> 7, 499L -> 2, 500L -> 4, 503L -> 2)
  val Hosts: Vector[String] = (0 until 16).map(i => f"ralph$i%02d").toVector
  val Ops = Vector("getobject", "putobject", "listdir", "mkdir", "deletedir",
    "putsnaplink", "getstorage", "headobject")

  private def weighted[T](r: Random, xs: Vector[(T, Int)]): T = {
    var k = r.nextInt(xs.map(_._2).sum)
    xs.find { case (_, w) => k -= w; k < 0 }.get._1
  }

  /** Planted anomaly shares (per record, Bernoulli). */
  val MalformedP = 0.002
  val NoTimeP = 0.001
  val BadTimeP = 0.002
  val NoReqP = 0.003
  val NoResP = 0.002
  val NoLatencyP = 0.005

  def random(r: Random, hourStartMs: Long): Rec = {
    val t = hourStartMs + r.nextInt(3600 * 1000)
    val time =
      if (r.nextDouble() < NoTimeP) None
      else if (r.nextDouble() < BadTimeP) Some(BadTime)
      else Some(Instant.ofEpochMilli(t).toString match {
        // Instant.toString drops a zero millisecond field; keep one shape
        case s if s.length == 20 => s.dropRight(1) + ".000Z"
        case s => s
      })
    Rec(t, time,
      if (r.nextDouble() < NoReqP) None else Some(weighted(r, Methods)),
      if (r.nextDouble() < NoResP) None else Some(weighted(r, Statuses)),
      if (r.nextDouble() < NoLatencyP) None
      else Some(math.min(60000L, math.exp(3.5 + 1.2 * r.nextGaussian()).toLong)),
      Hosts(r.nextInt(Hosts.size)), Ops(r.nextInt(Ops.size)))
  }

  /** A truncated record: never valid JSON, dropped by DROPMALFORMED. */
  def malformed(r: Random, rec: Rec): String = {
    val s = rec.json
    s.substring(0, 1 + r.nextInt(s.length - 2))
  }
}

/** A krill predicate with SQL three-valued evaluation. */
sealed trait Pred {
  def eval(r: Rec): Option[Boolean]
  def json: String
}
final case class Cmp(op: String, field: String, value: Any) extends Pred {
  def eval(r: Rec): Option[Boolean] = r.get(field).map { v =>
    val c = (v, value) match {
      case (a: String, b: String) => a.compareTo(b)
      case (a: Long, b: Long) => java.lang.Long.compare(a, b)
      case other => sys.error(s"type mismatch in filter: $other")
    }
    op match {
      case "eq" => c == 0
      case "ne" => c != 0
      case "lt" => c < 0
      case "le" => c <= 0
      case "gt" => c > 0
      case "ge" => c >= 0
    }
  }
  def json: String = {
    val v = value match { case s: String => "\"" + s + "\""; case x => x.toString }
    s"""{"$op":["$field",$v]}"""
  }
}
final case class AndP(ps: Seq[Pred]) extends Pred {
  def eval(r: Rec): Option[Boolean] = {
    val vs = ps.map(_.eval(r))
    if (vs.contains(Some(false))) Some(false)
    else if (vs.contains(None)) None
    else Some(true)
  }
  def json: String = ps.map(_.json).mkString("""{"and":[""", ",", "]}")
}
final case class OrP(ps: Seq[Pred]) extends Pred {
  def eval(r: Rec): Option[Boolean] = {
    val vs = ps.map(_.eval(r))
    if (vs.contains(Some(true))) Some(true)
    else if (vs.contains(None)) None
    else Some(false)
  }
  def json: String = ps.map(_.json).mkString("""{"or":[""", ",", "]}")
}

/** One breakdown column: its attr-string rendering and its value. */
final case class Bd(attr: String, name: String, value: Rec => Option[Any])

object Bd {
  def plain(f: String): Bd = Bd(f, f, _.get(f))
  /** power-of-two bucket of a numeric field (values < 1 land in 0) */
  def quantize(f: String): Bd = Bd(s"$f[aggr=quantize]", f, r =>
    r.get(f).map { case v: Long => if (v < 1) 0L else java.lang.Long.highestOneBit(v) })
  def lquantize(f: String, step: Long): Bd =
    Bd(s"$f[aggr=lquantize,step=$step]", f, r =>
      r.get(f).map { case v: Long => Math.floorDiv(v, step) * step })
  /** the record's time as unix seconds, linearly bucketed */
  def date(name: String, step: Long): Bd =
    Bd(s"$name[date,field=time,aggr=lquantize,step=$step]", name, r =>
      if (r.timeOk) Some(Math.floorDiv(r.secs, step) * step) else None)
}

/** A dragnet query: filter, breakdowns and [after, before) bounds (ms). */
final case class Query(filter: Option[Pred], bds: Seq[Bd],
    afterMs: Option[Long], beforeMs: Option[Long]) {

  private def ceilSecs(ms: Long): Long = Math.floorDiv(ms + 999L, 1000L)

  def inBounds(r: Rec): Boolean =
    (afterMs.isEmpty && beforeMs.isEmpty) || (r.timeOk &&
      afterMs.forall(a => r.secs >= ceilSecs(a)) &&
      beforeMs.forall(b => r.secs < ceilSecs(b)))

  /** The answer rows: breakdown values then the count, sorted. */
  def tally(recs: Iterator[Rec]): Seq[Seq[Any]] = {
    val acc = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
    recs.foreach { r =>
      if (filter.forall(_.eval(r).contains(true)) && inBounds(r)) {
        val key = bds.map(_.value(r))
        if (key.forall(_.isDefined)) {
          val k = key.map(_.get)
          acc(k) = acc.getOrElse(k, 0L) + 1L
        }
      }
    }
    if (bds.isEmpty) Seq(Seq(acc.getOrElse(Nil, 0L)))
    else acc.toSeq.map { case (k, n) => k :+ n }.sortBy(_.toString)
  }

  def attrs: String = bds.map(_.attr).mkString(",")
}

object Logs {
  val Start: LocalDate = LocalDate.of(2024, 3, 1)
  def dayMs(d: LocalDate): Long = d.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
  val HourMs = 3600L * 1000L
  val DayMs = 24L * HourMs

  /** Write `days` days × 24 hourly files of `perFile` lines under `root`
    * (`%Y/%m-%d/%H.log`); returns the valid (parseable) records. File
    * modification times follow event time, one second apart, so a file
    * stream replays them in order. */
  def writeTree(root: java.nio.file.Path, r: Random, first: LocalDate,
      days: Int, perFile: Int): Vector[Rec] = {
    val out = Vector.newBuilder[Rec]
    for (d <- 0 until days; h <- 0 until 24) {
      val day = first.plusDays(d)
      val dir = root.resolve(f"${day.getYear}%04d/${day.getMonthValue}%02d-${day.getDayOfMonth}%02d")
      java.nio.file.Files.createDirectories(dir)
      val hourMs = dayMs(day) + h * HourMs
      val sb = new StringBuilder(perFile * 200)
      for (_ <- 0 until perFile) {
        val rec = Rec.random(r, hourMs)
        if (r.nextDouble() < Rec.MalformedP) sb.append(Rec.malformed(r, rec))
        else { sb.append(rec.json); out += rec }
        sb.append('\n')
      }
      val f = dir.resolve(f"$h%02d.log")
      java.nio.file.Files.write(f, sb.toString.getBytes("UTF-8"))
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
          (first.toEpochDay * 24 + d * 24 + h) * 1000L))
    }
    out.result()
  }
}
