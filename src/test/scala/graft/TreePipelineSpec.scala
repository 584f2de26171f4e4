package graft

import graft.pipeline.TreePipeline
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TreePipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fields = TreePipeline.rawSchema.fieldNames

  /** A valid default row; tests override individual columns. */
  private def mk(overrides: (String, Any)*): Row = {
    val base: Map[String, Any] = Map(
      "id_arbre" -> 1L, "OBJECTID" -> 1L, "GlobalID" -> "g",
      "X" -> 700000.0, "Y" -> 6600000.0,
      "haut_tot" -> 10.0, "haut_tronc" -> 4.0, "tronc_diam" -> 30.0,
      "age_estim" -> 25.0, "fk_prec_estim" -> 1.0, "clc_nbr_diag" -> 0.0,
      "clc_quartier" -> "Centre", "clc_secteur" -> "nord",
      "fk_arb_etat" -> "EN PLACE", "fk_stadedev" -> "Adulte",
      "fk_port" -> "libre", "fk_pied" -> "gazon", "fk_situation" -> "parc",
      "fk_revetement" -> "Non", "fk_nomtech" -> "ACEPLA", "feuillage" -> "Feuillu",
      "remarquable" -> "Non", "villeca" -> "VILLE", "src_geo" -> "old",
      "created_user" -> "u", "created_date" -> "d", "Creator" -> "c",
      "CreationDate" -> "d", "Editor" -> "e", "EditDate" -> "d",
      "last_edited_user" -> "u", "last_edited_date" -> "d",
      "nomfrancais" -> "érable", "nomlatin" -> "acer",
      "commentaire_environnement" -> "", "dte_plantation" -> "",
      "dte_abattage" -> "")
    val m = base ++ overrides.toMap
    Row.fromSeq(fields.map(f => m(f)).toIndexedSeq)
  }

  private def df(rows: Row*) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), TreePipeline.rawSchema)

  test("E1 end-to-end: schema is the exact 20-column export") {
    val out = TreePipeline.clean(df(mk()))
    assert(out.columns.toSeq == TreePipeline.exportCols)
  }

  test("typed Dataset[TreeClean] view round-trips the cleaned row") {
    val t = TreePipeline.cleanTyped(df(mk())).collect().head
    assert(t.clc_quartier == "Centre")
    assert(t.age_estim == 25.0)
    assert(t.fk_stadedev == "adulte") // relabeled en route
  }

  test("exact duplicates collapse; keyed (X,Y,etat) dupes keep first") {
    val rows = Seq(
      mk("id_arbre" -> 1L),
      mk("id_arbre" -> 1L), // exact dup → P2
      mk("id_arbre" -> 3L, "fk_pied" -> "beton"), // same (X,Y,etat), later → P3 drops
      mk("id_arbre" -> 4L, "X" -> 700500.0))
    val out = TreePipeline.clean(df(rows: _*))
    assert(out.count() == 2)
    // the P3 survivor is the first row → fk_pied gazon, not beton
    assert(out.filter(col("fk_pied") === "beton").count() == 0)
  }

  test("required-null rows drop; winsorize caps 301→200 but keeps 300") {
    val rows = Seq(
      mk("id_arbre" -> 1L, "haut_tot" -> null),           // dropped (P4)
      mk("id_arbre" -> 2L, "X" -> 700100.0, "age_estim" -> 301.0),
      mk("id_arbre" -> 3L, "X" -> 700200.0, "age_estim" -> 300.0))
    val out = TreePipeline.clean(df(rows: _*))
    assert(out.count() == 2)
    assert(out.select("age_estim").as[Double].collect().sorted.toSeq == Seq(200.0, 300.0))
  }

  test("blank strings count as missing for the required-null drop") {
    val rows = Seq(
      mk("id_arbre" -> 1L, "feuillage" -> "  "), // blank → null → dropped
      mk("id_arbre" -> 2L, "X" -> 700100.0))
    assert(TreePipeline.clean(df(rows: _*)).count() == 1)
  }

  test("stadedev relabeled, secteur title-cased, src_geo constant-filled") {
    val out = TreePipeline.clean(df(
      mk("fk_stadedev" -> "Jeune", "clc_secteur" -> "SAINT-MARTIN - OËSTRES")))
    val r = out.first()
    assert(r.getAs[String]("fk_stadedev") == "jeune")
    assert(r.getAs[String]("clc_secteur") == "Saint-Martin - Oëstres")
    assert(!out.columns.contains("src_geo")) // dropped from export, but was filled
  }

  test("null clc_quartier imputed from the geometrically nearest row") {
    val rows = Seq(
      mk("id_arbre" -> 1L, "X" -> 700000.0, "Y" -> 6600000.0, "clc_quartier" -> "Proche"),
      mk("id_arbre" -> 2L, "X" -> 705000.0, "Y" -> 6600000.0, "clc_quartier" -> "Loin"),
      mk("id_arbre" -> 3L, "X" -> 700100.0, "Y" -> 6600000.0, "clc_quartier" -> null))
    val out = TreePipeline.clean(df(rows: _*))
    val imputed = out.filter(col("latitude").isNotNull)
      .filter(col("clc_quartier") === "Proche")
    assert(imputed.count() == 2) // the null row took "Proche"
  }

  test("Gricourt/Griourt sector rows are removed (typo quirk preserved)") {
    val rows = Seq(
      mk("id_arbre" -> 1L, "clc_secteur" -> "Gricourt"),
      mk("id_arbre" -> 2L, "X" -> 700100.0, "clc_secteur" -> "Griourt"),
      mk("id_arbre" -> 3L, "X" -> 700200.0, "clc_secteur" -> "Valide"))
    val out = TreePipeline.clean(df(rows: _*))
    assert(out.select("clc_secteur").as[String].collect().toSeq == Seq("Valide"))
  }

  test("villeca mode-filled per quartier; fk_pied first-non-null per secteur") {
    val rows = Seq(
      mk("id_arbre" -> 1L, "X" -> 700000.0, "villeca" -> "VILLE", "fk_pied" -> "gazon"),
      mk("id_arbre" -> 2L, "X" -> 700100.0, "villeca" -> "VILLE", "fk_pied" -> null),
      mk("id_arbre" -> 3L, "X" -> 700200.0, "villeca" -> "CA"),
      mk("id_arbre" -> 4L, "X" -> 700300.0, "villeca" -> null, "fk_pied" -> null))
    val out = TreePipeline.clean(df(rows: _*))
    assert(out.filter(col("villeca") === "VILLE").count() == 3) // mode fill
    assert(out.filter(col("fk_pied").isNull).count() == 0)      // group fill
  }

  test("no nulls survive in string export columns (Inconnue sentinel)") {
    val out = TreePipeline.clean(df(
      mk("fk_arb_etat" -> null, "fk_situation" -> null)))
    val r = out.first()
    assert(r.getAs[String]("fk_arb_etat") == "Inconnue")
    assert(r.getAs[String]("fk_situation") == "Inconnue")
  }

  test("longitude/latitude carry the reference's calibration offsets") {
    val out = TreePipeline.clean(df(mk())) // X=700000, Y=6600000 → (3, 46.5) pre-offset
    val r = out.select("longitude", "latitude").as[(Double, Double)].first()
    assert(math.abs(r._1 - (3.0 - 17.863636)) < 1e-9)
    assert(math.abs(r._2 - (46.5 - 10.67772)) < 1e-9)
  }

  test("knnFill(KnnExact) is lazy: building the plan triggers no Spark job") {
    lazy val base = df(mk(), mk("id_arbre" -> 2L, "X" -> 700100.0, "clc_quartier" -> null))
      .withColumn("__ingest_id", monotonically_increasing_id())
    lazy val planned = TreePipeline.knnFill(base, "clc_quartier")
    // force planning, not execution
    val jobs = TestSpark.jobsDuring(planned.queryExecution.executedPlan)
    assert(jobs == 0, "knnFill construction ran a hidden Spark job")
    // and the plan is the real one: executing it fills the null
    assert(planned.filter(col("clc_quartier").isNull).count() == 0)
  }

  test("full pipeline with KnnGrid matches the KnnExact pipeline (100 TB path)") {
    // Distances chosen to exercise the grid's ring escalation: row 5's
    // nearest known neighbor is 5 km away, i.e. 10 cells at the default
    // 500 m cell — resolved only after several ring doublings.
    val rows = Seq(
      mk("id_arbre" -> 1L, "X" -> 700000.0, "clc_quartier" -> "Proche"),
      mk("id_arbre" -> 2L, "X" -> 705000.0, "clc_quartier" -> "Loin",
        "clc_secteur" -> "sud"),
      mk("id_arbre" -> 3L, "X" -> 700100.0, "clc_quartier" -> null),
      mk("id_arbre" -> 4L, "X" -> 704900.0, "clc_secteur" -> null),
      mk("id_arbre" -> 5L, "X" -> 710000.0, "clc_quartier" -> null,
        "clc_secteur" -> null))
    val exact = TreePipeline.clean(df(rows: _*))
      .collect().map(_.toSeq).toSet
    val grid = TreePipeline.clean(df(rows: _*), TreePipeline.KnnGrid)
      .collect().map(_.toSeq).toSet
    assert(grid == exact)
    assert(grid.exists(_.contains("Loin"))) // row 5 actually got imputed
  }

  test("CSV round-trip: run() writes and re-reads the cleaned export (S2/S3)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tree").toString + "/out"
    val cleaned = TreePipeline.run(spark, writeFixtureCsv(), tmp)
    val back = spark.read.option("header", true).csv(tmp)
    assert(back.columns.toSeq == TreePipeline.exportCols)
    assert(back.count() == cleaned.count())
  }

  private def writeFixtureCsv(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tree_in").toString + "/in"
    df(mk(), mk("id_arbre" -> 2L, "X" -> 700100.0, "age_estim" -> 400.0)).write
      .option("header", true).mode("overwrite").csv(dir)
    dir
  }
}
