package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.pipeline.{Kpi, PriceUpdate}
import graft.query.ViewServer
import graft.sinks.Writers

/** The `dashboard` workload: what `index_2.html` does per user action,
  * against one cached [[ViewServer]] over the price_etl output. */
final class Dashboard(spark: SparkSession, t: PriceTruth, etlOut: Path,
                      work: Path, tr: Tracer) {
  import Dashboard._

  /** Built in set-up: the cached view over the per-project tables a
    * price_etl op wrote to `etlOut`. */
  val (vs, viewCacheS): (ViewServer, Double) = {
    val updated = spark.read.parquet(etlOut.resolve(PriceEtl.PerProject).toString)
    val base = Kpi.withNumShadows(updated, Seq("Area total")).select(
      col("Proyecto"), col(PriceUpdate.ColNum), col(PriceUpdate.ColEst),
      col("Tipologia"), col(PriceUpdate.ColPre).as(Price), col(Area))
    val t0 = System.nanoTime()
    val vs = new ViewServer(base, View)
    val n = vs.view.count()
    val s = (System.nanoTime() - t0) / 1e9
    Check(n == t.units, s"view holds $n units, generated ${t.units}")
    (vs, s)
  }

  /** One client's filter state; each action changes one part of it. */
  final class Client(val id: Int, val rng: Random, var step: Int) {
    var proyecto: Option[String] = None
    var estado: Option[String] = None
    var search: Option[String] = None
    var sortByPrice = true
    var asc = true
  }

  /** Clients start half a cycle apart. The offset is odd, so where a
    * traced run traces every other op, each slot of the cycle is traced
    * on one client and untraced on the other. Only client 0 exports, so
    * its export actions have no untraced match. */
  def client(seed: Long, c: Int): Client =
    new Client(c, new Random(seed * 31 + c), c * Cycle.size / 2)

  private def expected(c: Client): Seq[PriceTruth#Cell] = t.cells.filter { x =>
    c.proyecto.forall(_ == x.proyecto) && c.estado.forall(_ == x.estado) &&
      c.search.forall(q => SearchTerms(q) == x.tipo)
  }

  def interact(c: Client, opId: Long): Map[String, Double] = {
    val rng = c.rng
    val slot = c.step % Cycle.size
    val action = Cycle(slot)
    // every client runs the SQL surface once per cycle, client 0 alone
    // exports once per cycle (1 action in 20 overall). Client 0 reaches
    // both in its first timed ops, which a traced run traces
    val sqlStep = slot == 6
    val exportStep = c.id == 0 && slot == 8
    c.step += 1
    action match {
      case "proyecto" => c.proyecto = Some(t.projects(rng.nextInt(t.projects.size)))
      case "estado" => c.estado = Some(Estados(rng.nextInt(Estados.size)))
      case "search" => c.search = Some(SearchTerms.keys.toSeq.sorted.apply(
        rng.nextInt(SearchTerms.size)))
      case "clear" => c.proyecto = None; c.estado = None; c.search = None
      case "sort_price" => c.sortByPrice = true; c.asc = rng.nextBoolean()
      case "sort_unit" => c.sortByPrice = false; c.asc = rng.nextBoolean()
    }
    val want = expected(c)
    val n = want.map(_.n).sum
    val f = vs.filtered(c.proyecto, c.estado, c.search)

    val pageNo = 1 + rng.nextInt(4)
    tr.span("query.filter_page", forced = true) {
      val (sorted, order) =
        if (c.sortByPrice) {
          val p = if (c.asc) col(Price).asc_nulls_last else col(Price).desc_nulls_last
          (vs.sorted(f, PriceUpdate.ColPre, c.asc), Seq(p, col(PriceUpdate.ColNum).asc))
        } else
          (vs.sortedByLocaleNumeric(f, PriceUpdate.ColNum, asc = c.asc),
            ViewServer.localeNumericKeys(col(PriceUpdate.ColNum))
              .map(k => if (c.asc) k.asc_nulls_last else k.desc_nulls_last))
      val page = vs.page(sorted, order, pageNo, PageSize).collect()
      val size = math.max(0L, math.min(PageSize.toLong, n - (pageNo - 1L) * PageSize))
      Check(page.length == size, s"page $pageNo has ${page.length} rows, want $size of $n")
      if (c.sortByPrice) {
        val ps = page.map(r => Option(r.getAs[java.lang.Double](Price)).map(_.doubleValue))
        val known = ps.flatten
        Check(known.toSeq == (if (c.asc) known.sorted.toSeq else known.sorted.reverse.toSeq) &&
          ps.dropWhile(_.nonEmpty).forall(_.isEmpty), "page is not in price order")
      }
    }

    tr.span("query.charts", forced = true) {
      val byEstado = vs.countByEstado(f).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val wantEstado = want.groupBy(_.estado).map { case (e, xs) => e -> xs.map(_.n).sum }
        .filter(_._2 > 0)
      Check(byEstado == wantEstado, s"count by estado $byEstado, want $wantEstado")
      val wantProj = want.groupBy(_.proyecto).map { case (p, xs) => p -> xs.map(_.n).sum }
        .filter(_._2 > 0)
      val avg = vs.avgPriceByProyecto(f, Price).collect()
      Check(avg.map(_.getString(0)).toSet == wantProj.keySet, "average price chart projects")
      val stack = vs.stackedCounts(f, Estados).collect().map { r =>
        r.getString(0) -> Estados.map(e => r.getAs[Long](e)).sum }.toMap
      Check(stack == wantProj, s"stacked counts $stack, want $wantProj")
      val points = vs.scatter(f, Price, Area).count()
      val wantPoints = want.filter(_.priced).map(_.n).sum
      Check(points == wantPoints, s"scatter has $points points, want $wantPoints")
    }

    if (sqlStep) tr.span("query.sql", forced = true) {
      val p = t.projects(rng.nextInt(t.projects.size))
      val got = vs.sql(
        s"""SELECT coalesce(`Estado de inmueble`, '__NA__') AS estado, count(1) AS n
            FROM $View WHERE `Proyecto` = ? GROUP BY 1 ORDER BY n DESC, estado""", p)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = t.cells.filter(_.proyecto == p).groupBy(_.estado)
        .map { case (e, xs) => e -> xs.map(_.n).sum }.filter(_._2 > 0)
      Check(got == want, s"SQL estado counts for $p: $got, want $want")
    }
    if (exportStep) tr.span("query.export") {
      val dir = work.resolve(s"export-$opId")
      tr.span("sinks")(Writers.csvExport(f, dir.toString))
      val lines = Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".csv"))
        .map(p => Files.lines(p).count() - 1).sum
      Main.deleteTree(dir)
      Check(lines == n, s"export has $lines rows, want $n")
    }
    Map(Action -> (if (exportStep) slot + Cycle.size else slot).toDouble)
  }
}

object Dashboard {
  val View = "units"
  /** The per-op figure that names what an action did: its slot in
    * [[Cycle]], plus `Cycle.size` when it also exported. */
  val Action = "cycle.action"
  val Price = "Precio de lista_num"
  val Area = "Area total_num"
  val PageSize = 25
  /** What each successive user action changes. The cycle is fixed so
    * every seed runs the same mix of filter selectivities and sort keys;
    * the seed picks the values (project, estado, search term, order).
    * One action in 10 also runs the SQL surface, one in 20 exports. */
  val Cycle = Seq("proyecto", "sort_unit", "search", "sort_price", "estado",
    "clear", "search", "proyecto", "sort_unit", "clear")
  val Estados = Seq("Disponible", "Vendido", "Separado", "Bloqueado")
  /** search term -> the one typology it matches (gen.py TIPOLOGIAS) */
  val SearchTerms = Map("duplex" -> "B-DUPLEX", "studio" -> "C-STUDIO",
    "penthouse" -> "D-PENTHOUSE", "flat" -> "A-FLAT")
}
