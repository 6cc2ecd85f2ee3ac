package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._

import graft.ingest.{RawSheetReader, XlsSheetReader, XlsxSheetReader}
import graft.pipeline.{Kpi, PriceUpdate}
import graft.sinks.{Writers, XlsxWriter}

/** The generator's record of one input set (truth.json). */
final class PriceTruth(dir: Path) {
  private implicit val formats: Formats = DefaultFormats
  private val js = org.json4s.jackson.JsonMethods.parse(
    Files.readString(dir.resolve("truth.json")))

  case class Workbook(path: String, proyecto: String, rows: Long)
  val workbooks: Seq[Workbook] = (js \ "workbooks").extract[List[JValue]].map { w =>
    Workbook(dir.resolve((w \ "path").extract[String]).toString,
      (w \ "proyecto").extract[String], (w \ "rows").extract[Long])
  }
  val crmPath: String = dir.resolve((js \ "crm" \ "path").extract[String]).toString
  val crmRows: Long = (js \ "crm" \ "rows").extract[Long]
  val units: Long = (js \ "units").extract[Long]
  /** project -> resumen column -> expected count */
  val resumen: Map[String, Map[String, Long]] =
    (js \ "resumen").extract[Map[String, Map[String, Long]]]

  /** One (proyecto, estado after update, tipologia, has a price) cell of
    * the updated units, with its unit count. */
  case class Cell(proyecto: String, estado: String, tipo: String,
                  priced: Boolean, n: Long)
  val cells: Seq[Cell] = (js \ "cells").extract[List[List[JValue]]].map {
    case List(JString(p), JString(e), JString(t), JBool(pr), JInt(n)) =>
      Cell(p, e, t, pr, n.toLong)
    case other => sys.error(s"bad truth cell $other")
  }
  val projects: Seq[String] = workbooks.map(_.proyecto)
}

/** The `price_etl` op: one full reference run, as `graft.Demo` drives it
  * — ingest the project workbooks and the CRM extract, run the price
  * update, write the per-project workbooks, the audit workbook and the
  * changed-row detail, then the KPI document. */
object PriceEtl {

  /** The reference's header alias table (`Actualizar_Precios_de_Nexo.py`). */
  val aliasCfg: RawSheetReader.Config = RawSheetReader.Config(
    aliases = Seq(
      "Numero de inmueble" -> Seq("Número de inmueble", "N° inmueble",
        "nombre", "unidad", "codigo"),
      "Precio de lista" -> Seq("precio de lista", "precio", "precio lista"),
      "Estado de inmueble" -> Seq("estado de inmueble", "estado",
        "estado comercial"),
      "Tipologia" -> Seq("Tipología", "tipologia")),
    ensure = Seq("Numero de inmueble", "Precio de lista",
      "Estado de inmueble", "Tipologia"))

  val crmSchema: StructType = StructType(Seq(
    StructField("nombre_proyecto", StringType),
    StructField("nombre", StringType),
    StructField("precio_lista", DoubleType),
    StructField("estado_comercial", StringType),
    StructField("fecha_actualizacion", StringType),
    StructField("_row", LongType)))

  final case class Ingested(sheets: Seq[DataFrame], crm: DataFrame,
                            sheetRows: Seq[Long], crmRows: Long)

  /** Read every workbook and the CRM extract, forcing the lazy frames
    * to row counts at the layer boundary. */
  def ingest(spark: SparkSession, t: PriceTruth, tr: Tracer): Ingested =
    tr.span("ingest", forced = true) {
      val sheets = t.workbooks.map { w =>
        if (w.path.endsWith(".xls"))
          XlsSheetReader.readSheet(spark, w.path, w.proyecto, aliasCfg)
        else XlsxSheetReader.readSheet(spark, w.path, w.proyecto, aliasCfg)
      }
      val crm = spark.read.option("header", "true").schema(crmSchema)
        .csv(t.crmPath)
      Ingested(sheets, crm, sheets.map(_.count()), crm.count())
    }

  def checkIngest(in: Ingested, t: PriceTruth): Unit = {
    t.workbooks.zip(in.sheetRows).foreach { case (w, n) =>
      Check(n == w.rows, s"${w.proyecto}: ingested $n rows, generated ${w.rows}")
    }
    Check(in.crmRows == t.crmRows, s"CRM: ingested ${in.crmRows}, generated ${t.crmRows}")
  }

  /** Where an op writes the per-project tables, under its output dir. */
  val PerProject = "tablas_actualizadas"

  val ResumenCols = Seq("Registros", "Con_Match", "Sin_Match", "Cambios",
    "Cambios_Precio", "Cambios_Estado", "Sin_Cambio")

  def run(spark: SparkSession, t: PriceTruth, out: Path, tr: Tracer): Map[String, Double] = {
    val in = ingest(spark, t, tr)
    checkIngest(in, t)

    val (r, resumen) = tr.span("pipeline.price_update", forced = true) {
      val r = PriceUpdate.run(in.sheets, in.crm)
      (r, r.resumen.collect())
    }
    val got = resumen.map { row =>
      row.getAs[String]("Proyecto") ->
        ResumenCols.map(c => c -> row.getAs[Long](c)).toMap
    }.toMap
    Check(got == t.resumen, s"resumen differs from the generator's truth: $got")

    val o = out.toString
    tr.span("sinks") {
      Writers.perProject(r.updated, Seq("Proyecto", PriceUpdate.ColNum,
        PriceUpdate.ColPre, PriceUpdate.ColEst), s"$o/$PerProject")
      XlsxWriter.auditWorkbookXlsx(r.resumen, r.soloEnNexo, r.soloEnSperant,
        s"$o/Resumen_cambios_precios.xlsx")
      Writers.changedDetail(r.detalle, s"$o/auditoria/detalle")
    }
    val parts = Files.list(out.resolve(PerProject)).iterator().asScala
      .count(_.getFileName.toString.startsWith("Proyecto="))
    Check(parts == t.projects.size, s"$parts per-project outputs, want ${t.projects.size}")

    val json = tr.span("pipeline.kpi", forced = true) {
      Kpi.toJson(r.updated.withColumnRenamed(PriceUpdate.ColPre, "Precio de lista_num"),
        "Precio de lista_num", PriceUpdate.ColEst, "2024-06-30T00:00:00Z")
    }
    tr.span("sinks")(Writers.kpisJson(json, s"$o/kpis.json"))
    Check(json.contains(s""""unidades_totales": ${t.units},"""),
      s"KPI unit total is not ${t.units}")

    val inputRows = in.sheetRows.sum + in.crmRows
    Map("ingest.rows" -> inputRows.toDouble,
      "ingest.files" -> (t.workbooks.size + 1).toDouble,
      "sinks.bytes" -> Main.treeBytes(out).toDouble)
  }
}

object Check {
  final class Failed(msg: String) extends RuntimeException(msg)
  def apply(ok: Boolean, msg: => String): Unit = if (!ok) throw new Failed(msg)
}
