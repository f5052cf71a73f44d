package graft.engine

import java.time.LocalDateTime
import java.time.YearMonth

/** OP-MISC-1 — the request-group planner (`Processing/processor.py:116-186`):
  * split an arbitrary `[start, end]` hourly range into the minimal set of
  * scan requests. This is scan-partition planning (SURVEY §4) — a pure
  * driver-side function: full months collapse to whole-month groups,
  * remainders become per-day groups with exact hour slices; monthly mode
  * emits full-year or per-month groups.
  */
object Planner {

  /** One planned request. Hourly mode: months has exactly one entry.
    * Field formats mirror the reference's strings: year "2020", month "03",
    * day "07", hour "13:00".
    */
  final case class RequestGroup(year: String, months: Seq[String],
      days: Seq[String], hours: Seq[String])

  private def fullHours: Seq[String] = (0 until 24).map(h => f"$h%02d:00")
  private def monthDays(y: Int, m: Int): Seq[Int] =
    1 to YearMonth.of(y, m).lengthOfMonth()

  private def monthsBetween(start: LocalDateTime,
      end: LocalDateTime): Seq[YearMonth] = {
    val first = YearMonth.from(start)
    val last = YearMonth.from(end)
    Iterator.iterate(first)(_.plusMonths(1)).takeWhile(!_.isAfter(last)).toSeq
  }

  def requestGroups(start: LocalDateTime, end: LocalDateTime,
      monthly: Boolean): Seq[RequestGroup] =
    if (monthly) monthlyGroups(start, end) else hourlyGroups(start, end)

  /** Monthly-means mode (`processor.py:136-156`): full calendar years
    * collapse to one group per year (with the CDS-tolerated 1..31 day list);
    * otherwise one group per fully-contained month.
    */
  private def monthlyGroups(start: LocalDateTime,
      end: LocalDateTime): Seq[RequestGroup] = {
    val fullYears = (start.getMonthValue, start.getDayOfMonth, start.getHour) == (1, 1, 0) &&
      (end.getMonthValue, end.getDayOfMonth, end.getHour) == (12, 31, 23)
    if (fullYears) {
      (start.getYear to end.getYear).map { y =>
        RequestGroup(y.toString, (1 to 12).map(m => f"$m%02d"),
          (1 to 31).map(d => f"$d%02d"), fullHours)
      }
    } else {
      monthsBetween(start, end).collect {
        case ym if !start.isAfter(ym.atDay(1).atStartOfDay()) &&
            !ym.atDay(1).atStartOfDay().isAfter(end) =>
          RequestGroup(ym.getYear.toString, Seq(f"${ym.getMonthValue}%02d"),
            monthDays(ym.getYear, ym.getMonthValue).map(d => f"$d%02d"),
            fullHours)
      }
    }
  }

  /** Hourly mode (`processor.py:159-186`): per month overlapping the range,
    * a whole-month group when fully covered, else per-day groups with exact
    * hour slices (first/last day truncated to the range's hours).
    */
  private def hourlyGroups(start: LocalDateTime,
      end: LocalDateTime): Seq[RequestGroup] =
    monthsBetween(start, end).flatMap { ym =>
      val monthStart = ym.atDay(1).atStartOfDay()
      val monthEnd = ym.atEndOfMonth().atTime(23, 59, 59)
      val mStart = if (start.isAfter(monthStart)) start else monthStart
      val mEnd = if (end.isBefore(monthEnd)) end else monthEnd
      if (mStart.isAfter(mEnd)) Nil
      else {
        val coversMonth =
          mStart.withMinute(0).withSecond(0).withNano(0) == monthStart &&
            !mEnd.withMinute(0).withSecond(0).withNano(0)
              .isBefore(monthEnd.withMinute(0).withSecond(0).withNano(0))
        if (coversMonth)
          Seq(RequestGroup(ym.getYear.toString,
            Seq(f"${ym.getMonthValue}%02d"),
            monthDays(ym.getYear, ym.getMonthValue).map(d => f"$d%02d"),
            fullHours))
        else {
          val firstDay = mStart.toLocalDate
          val lastDay = mEnd.toLocalDate
          Iterator.iterate(firstDay)(_.plusDays(1))
            .takeWhile(!_.isAfter(lastDay)).flatMap { d =>
              val h0 = if (d == firstDay) mStart.getHour else 0
              val h1 = if (d == lastDay) mEnd.getHour else 23
              if (h0 > h1) None
              else Some(RequestGroup(d.getYear.toString,
                Seq(f"${d.getMonthValue}%02d"), Seq(f"${d.getDayOfMonth}%02d"),
                (h0 to h1).map(h => f"$h%02d:00")))
            }.toSeq
        }
      }
    }

  // ------------------------------------------------------------- OP-SRC-7
  // The CDS request BUILDER — the offline half of the acquisition stage
  // (`api_request.py:47-118, :161-177`): dataset id, payload dict, and the
  // reference's target-filename logic are pure functions of a planned
  // group; only the network retrieve/download around them is out of
  // engine (zero-egress environment, and it is I/O, not dataflow).

  /** One buildable request: dataset id, ordered payload fields (values are
    * either a String or a Seq[String]), and the download target filename.
    */
  final case class CdsRequest(dataset: String,
      payload: Seq[(String, Either[String, Seq[String]])], filename: String)

  /** Area list from 2-point (lat, lon) or 4-value (N, W, S, E) coords
    * (`api_request.py:57-60`).
    */
  def area(coords: Seq[Double]): Seq[Double] = coords match {
    case Seq(lat, lon) => Seq(lat, lon, lat, lon)
    case four if four.size == 4 => four
    case other => throw new IllegalArgumentException(
      s"coords must have 2 or 4 values, got ${other.size}")
  }

  /** ERA5 hourly / monthly-means request payload (`api_request.py:61-73`
    * monthly, `:92-104` hourly).
    */
  def buildEra5Request(g: RequestGroup, coords: Seq[Double],
      vars: Seq[String], monthly: Boolean): CdsRequest = {
    val a = area(coords).map(_.toString)
    val common = Seq(
      "variable" -> Right(vars),
      "year" -> Right(Seq(g.year)),
      "month" -> Right(g.months))
    val fields =
      if (monthly)
        ("product_type" ->
          Right(Seq("monthly_averaged_reanalysis_by_hour_of_day"))) +:
          common :+ ("time" -> Right(g.hours))
      else
        ("product_type" -> Right(Seq("reanalysis"))) +: common ++: Seq(
          "day" -> Right(g.days), "time" -> Right(g.hours))
    CdsRequest(
      if (monthly) "reanalysis-era5-single-levels-monthly-means"
      else "reanalysis-era5-single-levels",
      fields ++ Seq("area" -> Right(a),
        "data_format" -> Left("netcdf"), "download_format" -> Left("zip")),
      requestFilename(Seq(g.year), g.months, g.days, g.hours))
  }

  /** The CO₂ satellite product request (`api_request.py:161-177`). */
  def buildCo2Request(co2FolderName: String): CdsRequest =
    CdsRequest("satellite-carbon-dioxide", Seq(
      "processing_level" -> Right(Seq("level_3")),
      "variable" -> Left("xco2"),
      "sensor_and_algorithm" -> Left("merged_obs4mips"),
      "version" -> Right(Seq("4_5"))),
      s"$co2FolderName.zip")

  /** The reference's target-filename cascade (`_filename_logic`,
    * `api_request.py:118-159`): inputs are sorted, then full-years →
    * full-month → full-day → multi-day → multi-hour → single hour.
    *
    * Replicated literally, including the quirk that the full-month /
    * full-day branches name only `months.head` (`api_request.py:144-148`)
    * — a hand-built multi-month request that isn't the full-year pattern
    * would collide with the single-month filename, exactly as it does in
    * the reference. Planner-produced groups never hit this: hourly groups
    * are single-month, monthly groups are single-month or the full-year
    * pattern.
    */
  def requestFilename(years0: Seq[String], months0: Seq[String],
      days0: Seq[String], times0: Seq[String]): String = {
    val Seq(years, months, days, times) =
      Seq(years0, months0, days0, times0).map(_.sorted)
    val allHours = fullHours
    if (months == (1 to 12).map(m => f"$m%02d") &&
        days == (1 to 31).map(d => f"$d%02d") && times == allHours)
      if (years.size == 1) s"ERA5_${years.head}_full-year.zip"
      else s"ERA5_${years.head}to${years.last}_full-years.zip"
    else if (days.size >= 28 && times == allHours)
      s"ERA5_${years.head}-${months.head}_full-month.zip"
    else if (times.size == 24)
      s"ERA5_${years.head}-${months.head}-${days.head}_full-day.zip"
    else if (days.size > 1)
      s"ERA5_${years.head}-${months.head}_days${days.head}to${days.last}.zip"
    else if (times.size > 1)
      s"ERA5_${years.head}-${months.head}-${days.head}T${times.head}to${times.last}.zip"
    else
      s"ERA5_${years.head}-${months.head}-${days.head}T${times.head}.zip"
  }
}
