package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable


import graft.analytics.Dashboard
import graft.etl.Pipeline
import graft.sources.Sinks

/** The three reference-shaped CSVs, written from the seed, with the answers
  * computed in plain code beside them, apart from the program.
  */
final class EtlInputs(seed: Long, dir: File, val evRows: Int) {
  import EtlInputs._
  private val r = new scala.util.Random(seed)
  private def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))

  val evSuburbs: Seq[String] = r.shuffle(Pool).take(48)
  val elecSuburbs: Seq[String] = r.shuffle(Pool.filterNot(PollutionSuburbs.contains)).take(30) ++
    r.shuffle(PollutionSuburbs).take(4)
  val totals = mutable.Map.empty[String, (Long, Long, Long)].withDefaultValue((0L, 0L, 0L))
  val vehicleTypes = mutable.SortedSet.empty[String]

  val evPath = new File(dir, "Ev_Population.csv")
  val electricityPath = new File(dir, "Electricity_Consumption.csv")
  val pollutionPath = new File(dir, "Pollution_Index.csv")

  private def writer(f: File) =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)

  dir.mkdirs()
  locally {
    val w = writer(evPath)
    w.write("VEHICLE TYPE;FUEL TYPE;MODEL;VARIANT DETAILS;LISTED PRICE ($AUD);" +
      "FAST CHARGE TIME (minutes);ANCAP RATING;RANGE (km);ENERGY CONSUMPTION;;SUBURB\n")
    // a few suburbs carry most listings, as real registrations do
    val weights = evSuburbs.indices.map(i => 1.0 / (i + 1))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    for (_ <- 0 until evRows) {
      val vt = pick(VehicleTypes)
      val fuel = { val u = r.nextInt(100); if (u < 45) "BEV" else if (u < 70) "PHEV" else if (u < 85) "Hybrid" else "Petrol" }
      val x = r.nextDouble()
      val suburb = evSuburbs(cum.indexWhere(_ >= x) max 0)
      val price = 30000 + r.nextInt(90000)
      val priceCell = r.nextInt(10) match {
        case 0 => s"*$price"                       // starred: stripped, then parsed
        case 1 => f"${price / 1000},${price % 1000}%03d" // grouped: coerces to null
        case 2 => ""
        case _ => price.toString
      }
      val padded = r.nextInt(6) match {
        case 0 => s"  $suburb"
        case 1 => s"$suburb "
        case _ => suburb
      }
      val model = if (r.nextInt(8) == 0) "Classic" else s"${pick(Models)} ${2015 + r.nextInt(10)}"
      val range = if (r.nextInt(12) == 0) "n/a" else (150 + r.nextInt(500)).toString
      w.write(s"$vt;$fuel;$model;${pick(Variants)};$priceCell;${15 + r.nextInt(60)};" +
        s"${r.nextInt(6)};$range;${10 + r.nextInt(15)}.${r.nextInt(10)};;$padded\n")
      vehicleTypes += vt
      if (fuel == "BEV" || fuel == "PHEV") {
        val (t, b, p) = totals(suburb)
        totals(suburb) = if (fuel == "BEV") (t + 1, b + 1, p) else (t + 1, b, p + 1)
      }
    }
    w.close()
  }

  locally {
    val w = writer(electricityPath)
    val years = (2010 to 2022).map(y => f"F${y}_${(y + 1) % 100}%02d")
    w.write("﻿FID;Name;" + years.mkString(";") + ";Shape__Area;Shape__Length\n")
    elecSuburbs.zipWithIndex.foreach { case (s, i) =>
      val name = if (r.nextInt(4) == 0) s"$s + ${pick(Pool.filterNot(_ == s))}" else s
      val cells = years.map { _ =>
        r.nextInt(20) match {
          case 0 => f"${r.nextInt(9) + 1}.${r.nextInt(1000)}%03d.${r.nextInt(1000)}%03d.${r.nextInt(1000)}%03d"
          case _ => (1000000 + r.nextInt(9000000)).toString
        }
      }
      w.write(s"${i + 1};$name;${cells.mkString(";")};${r.nextInt(99999)}.5;${r.nextInt(9999)}.25\n")
    }
    w.close()
  }

  locally {
    val w = writer(pollutionPath)
    val sites = Sites ++ Seq("Liverpool", "Chullora", "Prospect")
    w.write("Air Quality Monitoring - Annual Averages\nNO2 and CO, all sites\n")
    w.write(("Date" +: sites.map(s => s"$s NO2 annual average [pphm]") :+
      "Randwick CO annual average [ppm]" :+ "Rozelle CO annual average [ppm]").mkString(",") + "\n")
    Seq("31/12/2021", "31/12/2022", "30/06/2023", "31/12/2023").foreach { d =>
      val cells = sites.map(_ => if (r.nextInt(9) == 0) "" else (5 + r.nextInt(25)).toString)
      w.write((d +: cells :+ r.nextInt(5).toString :+ "").mkString(",") + "\n")
    }
    w.close()
  }

  /** dim_suburb as the method defines it: the sorted union of the suburbs
    * with BEV/PHEV listings, the electricity suburbs and the mapped sites.
    */
  val suburbs: Seq[String] = (totals.keys.toSeq ++ elecSuburbs ++ PollutionSuburbs).distinct.sorted
  val csvBytes: Long = evPath.length + electricityPath.length + pollutionPath.length
  val total: (Long, Long, Long) = totals.values.foldLeft((0L, 0L, 0L)) {
    case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z)
  }
}

object EtlInputs {
  val Sites = Seq("Alexandria", "Rozelle", "Earlwood", "Cook and Phillip", "Randwick",
    "Macquarie Park", "Parramatta North")
  val PollutionSuburbs = Seq("Alexandria", "Rozelle", "Earlwood", "Sydney", "Randwick",
    "Macquarie Park", "Parramatta")
  val Pool: Seq[String] = (PollutionSuburbs ++ Seq(
    "Annandale", "Ashfield", "Balmain", "Bankstown", "Bondi", "Bondi Junction",
    "Botany", "Burwood", "Camperdown", "Chatswood", "Chippendale", "Coogee",
    "Darlinghurst", "Darlington", "Dulwich Hill", "Enmore", "Erskineville",
    "Forest Lodge", "Glebe", "Haberfield", "Homebush", "Hurstville", "Kensington",
    "Kingsford", "Leichhardt", "Lilyfield", "Marrickville", "Mascot", "Newtown",
    "North Sydney", "Paddington", "Petersham", "Pyrmont", "Redfern", "Rosebery",
    "Ryde", "St Peters", "Stanmore", "Strathfield", "Summer Hill", "Surry Hills",
    "Sydenham", "Tempe", "Ultimo", "Waterloo", "Waverley", "Woollahra", "Zetland",
    "Alexandria Park", "Lane Cove", "Mosman", "Manly", "Epping", "Hornsby",
    "Auburn", "Lidcombe", "Rockdale", "Kogarah", "Arncliffe", "Wolli Creek"))
  val VehicleTypes = Seq("Large SUV", "Medium SUV", "Small SUV", "Sedan", "Hatch",
    "Ute", "Van", "People Mover")
  val Models = Seq("Model Y", "Model 3", "Atto 3", "Ioniq 5", "EV6", "MG4", "Leaf",
    "Outlander", "Polestar 2", "XC40")
  val Variants = Seq("Standard Range", "Long Range AWD", "Performance", "Extended",
    "Base", "Premium")
}

/** etl_star: the paper's own path. One round is one warm `Pipeline.run` from
  * the three CSV paths to six committed parquet tables (step1), then one
  * dashboard pass over the written tables (step2).
  */
final class EtlStar extends Workload {
  val roundS = 10.0
  private var in: EtlInputs = _
  private var conf: Pipeline.Config = _
  private var outDir: String = _
  private var selected: Seq[String] = Nil
  private var drill: String = _
  private var topN = 0

  def setup(b: Bench): Unit = {
    in = new EtlInputs(b.seed, new File(b.path("etl_in")), EtlStar.EvRows)
    conf = Pipeline.Config(in.evPath.getPath, in.electricityPath.getPath, in.pollutionPath.getPath)
    outDir = b.path("star")
    val evs = in.evSuburbs.filter(s => in.totals(s)._1 > 0)
    selected = (EtlInputs.PollutionSuburbs ++ b.rnd.shuffle(evs).take(3)).distinct
    drill = in.suburbs(b.rnd.nextInt(in.suburbs.size))
    topN = 3 + b.rnd.nextInt(5)
    round(b) // warm-up
  }

  override def writeRoot(b: Bench): Option[String] = Some(outDir)

  def itemsPerSecond(rounds: Seq[Round]): Double =
    in.evRows / (Main.median(rounds.map(_.ops.filter(o => o.ok && o.cls == "step1").map(_.ms).sum)) / 1000)

  private def dense(ids: Seq[Int], what: String): Option[String] =
    if (ids.sorted == (1 to ids.size)) None else Some(s"$what ids are not dense 1..n: ${ids.sorted.take(10)}")

  private def firstFailure(checks: Option[String]*): Option[String] = checks.flatten.headOption

  def round(b: Bench): Unit = {
    etlMark = b.tracer.map(_.now()).getOrElse(0.0) -> 0.0
    b.op("step1", "etl.pipeline") {
      val res = b.span("etl.build")(Pipeline.run(b.spark, conf))
      res.tables.foreach { case (name, df) =>
        b.span("sources.write")(Sinks.parquet(df, s"$outDir/$name"))
      }
    } { _ =>
      etlMark = etlMark._1 -> b.tracer.map(_.now()).getOrElse(0.0)
      checkStar(b)
    }
    val d = b.span("analytics.call")(Dashboard.fromParquet(b.spark, outDir))
    def call(name: String)(body: => Res)(check: Res => Option[String]): Unit =
      b.op("step2", s"dashboard.$name")(b.span("analytics.call")(body))(check)
    call("kpis")(b.take(d.kpis)) { r =>
      val (t, bev, phev) = in.total
      r.rows match {
        case Seq(row) if row.getLong(0) == t && row.getLong(1) == bev && row.getLong(2) == phev &&
          row.getDouble(3) == bev.toDouble / t.toDouble * 100.0 => None
        case rows => Some(s"kpis $rows, expected $t/$bev/$phev")
      }
    }
    call("ev_by_suburb")(b.take(d.evBySuburb)) { r =>
      val got = r.rows.map(row => row.getString(0) ->
        ((row.getDouble(1).toLong, row.getDouble(2).toLong, row.getDouble(3).toLong)))
      val ordered = got.map(_._2._1).sliding(2).forall(p => p.size < 2 || p(0) >= p(1))
      if (got.size != in.suburbs.size) Some(s"${got.size} suburbs, expected ${in.suburbs.size}")
      else if (!ordered) Some("not ordered by TOTAL_EVS descending")
      else got.find { case (s, v) => v != in.totals(s) }
        .map { case (s, v) => s"$s counts $v, expected ${in.totals(s)}" }
    }
    var combined: Res = null
    call("combined")(b.take(d.combined)) { r =>
      combined = r
      val v = r.rows.map(_.getAs[Double]("EV_ADOPTION_NORMALIZED"))
      val wrong = r.rows.find { row =>
        val s = row.getAs[String]("SUBURB_NAME")
        row.getAs[Int]("id_suburb") != in.suburbs.indexOf(s) + 1 ||
          (row.getAs[Double]("TOTAL_EVS").toLong, row.getAs[Double]("BEV_COUNT").toLong,
            row.getAs[Double]("PHEV_COUNT").toLong) != in.totals(s)
      }
      if (r.rows.size != in.suburbs.size) Some(s"${r.rows.size} rows, expected ${in.suburbs.size}")
      else if (wrong.isDefined) Some(s"row ${wrong.get} disagrees with the generated suburbs")
      else if (v.exists(x => x < 0 || x > 100)) Some("EV_ADOPTION_NORMALIZED outside [0,100]")
      else if (v.forall(_ == 50.0) || (v.min == 0.0 && v.max == 100.0)) None
      else Some(s"min ${v.min} max ${v.max}: expected 0 and 100, or 50 everywhere")
    }
    call("radar")(b.take(d.radar(selected))) { r =>
      Option(combined).map(c => checkRadar(c, r)).getOrElse(Some("no combined result"))
    }
    call("drilldown")(b.take(d.suburbDrilldown(drill))) { r =>
      if (r.rows.map(_.getInt(0)) == Seq(2022, 2023)) None
      else Some(s"drilldown years ${r.rows.map(_.get(0))}, expected 2022, 2023")
    }
    call("sql_top")({
      Dashboard.registerViews(Map("dim_suburb" -> b.spark.read.parquet(s"$outDir/dim_suburb")))
      b.take(Dashboard.sql(b.spark,
        s"SELECT TOP $topN SUBURB_NAME FROM dim_suburb ORDER BY SUBURB_NAME"))
    }) { r =>
      val got = r.rows.map(_.getString(0))
      if (got == in.suburbs.take(topN)) None else Some(s"TOP $topN gave $got")
    }
    d.evImpactWithSuburb.unpersist()
    d.energyPollutionWithSuburb.unpersist()
  }

  /** The lowest raw NO2_LEVEL and AVG_PRICE among the selected suburbs map to 100. */
  private def checkRadar(combined: Res, radar: Res): Option[String] = {
    val raw = combined.rows.map(row => row.getAs[String]("SUBURB_NAME") -> row).toMap
    if (radar.rows.size != selected.size) return Some(s"${radar.rows.size} radar rows, expected ${selected.size}")
    Seq("NO2_LEVEL", "AVG_PRICE").flatMap { m =>
      val vals = radar.rows.map(row => row.getAs[String]("SUBURB_NAME"))
        .map(s => s -> raw.get(s).map(_.getAs[Double](m)))
      if (vals.exists(_._2.isEmpty)) Some(s"radar suburb missing from combined")
      else {
        val lo = vals.map(_._2.get).min
        val constant = vals.forall(_._2.get == lo)
        val want = if (constant) 50.0 else 100.0
        radar.rows.filter(row => raw(row.getAs[String]("SUBURB_NAME")).getAs[Double](m) == lo)
          .find(_.getAs[Double](m) != want).map(row => s"radar $m of lowest raw suburb is ${row.getAs[Double](m)}")
      }
    }.headOption
  }

  /** Properties of the written star schema, read back from the committed tables. */
  private def checkStar(b: Bench): Option[String] = {
    def read(t: String) = b.take(b.spark.read.parquet(s"$outDir/$t"))
    def ints(r: Res, c: String) = r.rows.map(_.getInt(r.schema.fieldIndex(c)))
    val sub = read("dim_suburb")
    val vt = read("dim_vehicle_type")
    val fuel = read("dim_fuel_type")
    val time = read("dim_time")
    val ev = read("fact_ev_impact")
    val en = read("fact_energy_pollution")
    val subIds = ints(sub, "id_suburb").toSet
    val names = sub.rows.sortBy(_.getInt(0)).map(_.getString(1))
    firstFailure(
      dense(ints(sub, "id_suburb"), "dim_suburb"),
      dense(ints(vt, "id_vehicle_type"), "dim_vehicle_type"),
      dense(ints(fuel, "id_fuel_type"), "dim_fuel_type"),
      // dim_time is keyed by the year itself, as in the reference
      if (ints(time, "id_time").sorted == Seq(2022, 2023)) None else Some("dim_time ids are not {2022, 2023}"),
      if (names == in.suburbs) None else Some(s"dim_suburb names differ from the generated suburbs"),
      if (vt.rows.map(_.getString(1)).sorted == in.vehicleTypes.toSeq) None else Some("dim_vehicle_type differs"),
      dense(ints(ev, "fact_ev_impact_id"), "fact_ev_impact"),
      dense(ints(en, "fact_energy_pollution_id"), "fact_energy_pollution"),
      if (ints(ev, "id_suburb").forall(subIds)) None else Some("fact_ev_impact has a dangling id_suburb"),
      if (ints(en, "id_suburb").forall(subIds)) None else Some("fact_energy_pollution has a dangling id_suburb"),
      if (ints(ev, "id_suburb").sorted == subIds.toSeq.sorted) None else Some("fact_ev_impact is not one row per suburb"),
      if (en.rows.groupBy(_.getInt(1)).forall(_._2.map(_.getInt(2)).sorted == Seq(2022, 2023)) &&
          en.rows.map(_.getInt(1)).toSet == subIds) None
      else Some("fact_energy_pollution is not two rows (2022, 2023) per suburb"))
  }

  /** Start and end of this round's etl operation, on the tracer's clock. */
  private var etlMark = (0.0, 0.0)

  override def roundExtras(b: Bench, t: Tracer): Map[String, Double] =
    Map("sources.read_amplification" -> t.inputBytesBetween(etlMark._1, etlMark._2) / in.csvBytes)

  override def probe(b: Bench): Map[String, Double] = {
    val t0 = System.nanoTime()
    val (ev, el, po) = Pipeline.extract(b.spark, conf)
    Seq(ev, el, po).foreach(_.count())
    Map("sources.csv_read_ms" -> (System.nanoTime() - t0) / 1e6)
  }
}

object EtlStar {
  val EvRows = 300000
}
