package graft.perfbench

import graft.{Cli, SparkEntry}
import graft.config.QueryConfig
import graft.`export`.{ExportFormat, Exporter, FeatureService, FlatGeobuf, GeoJson, PublishMode}
import graft.functions.Wkb
import graft.sources.{FlatGeobufReader, GpkgReader, ShapefileReader}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One operation of a pass. `body` returns the op's result row count
  * (or -1 when it has none); `check` runs outside the timed region
  * right after the op and names a mismatch.
  */
final case class Op(name: String, body: () => Long, check: Long => Option[String] = _ => None)

/** A named workload over inputs generated before the JVM started:
  * JVM-side set-up, the op list of one pass, and the output checks
  * that run after the timed loop.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String, val tr: Tracer) {
  val inputs = s"$work/inputs"
  val rnd = new scala.util.Random(seed)

  /** Set-up that needs the engine (files written by graft's writers). */
  def setup(): Unit = ()
  /** The ops of one pass, in the same order in every run (the seed
    * drives the inputs, not the op list or its order).
    */
  def ops: Seq[Op]
  /** State reset between passes, outside the timed region. */
  def beforePass(): Unit = ()
  /** Checks of the outputs after the timed loop: (op name, failure). */
  def afterRun(): Seq[(String, String)] = Nil
  /** Known-edge probes: (probe, failure or None). Never timed. */
  def probes(): Seq[(String, Option[String])] = Nil
  /** Bytes the last pass left on disk, by category. */
  def passBytes(): Map[String, Long] = Map.empty
  /** Registry row -> oracle SQL, for rows whose results were written. */
  def oracle: Map[String, String] = Map.empty
}

object Workload {
  private val Sink = new java.io.PrintStream(java.io.OutputStream.nullOutputStream())

  def quietly[T](f: => T): T = Console.withOut(Sink)(f)

  def apply(name: String, spark: SparkSession, seed: Long, work: String, tr: Tracer): Workload = name match {
    case "etl"      => new Etl(spark, seed, work, tr)
    case "registry" => new RegistryRows(spark, seed, work, tr, Rows.short ++ Rows.dedup)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** `f` over `xs` on a small thread pool (untimed checks only). */
  def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  private val Feature = "\"type\":\"Feature\"".getBytes("UTF-8")

  /** Features in a GeoJSON FeatureCollection, by a streaming scan. */
  def countFeatures(p: Path): Long = {
    val in = new java.io.BufferedInputStream(Files.newInputStream(p), 1 << 20)
    try {
      var n = 0L
      var matched = 0
      var b = in.read()
      while (b >= 0) {
        if (b == Feature(matched)) {
          matched += 1
          if (matched == Feature.length) { n += 1; matched = 0 }
        } else matched = if (b == Feature(0)) 1 else 0
        b = in.read()
      }
      n
    } finally in.close()
  }

  /** Rows in a file written by one of graft's five geo writers, read
    * back with graft's own reader where there is one.
    */
  def readBack(spark: SparkSession, path: String, fmt: String, gpkgTables: Seq[String]): Long = fmt match {
    case "geojson"    => countFeatures(Paths.get(path))
    case "gpkg"       => gpkgTables.map(t => GpkgReader.readFeatures(spark, path, t).count()).sum
    case "fgb"        => FlatGeobufReader.read(spark, path).count()
    case "geoparquet" => spark.read.parquet(path).count()
    case "shp"        => ShapefileReader.read(spark, path.stripSuffix(".shp")).count()
  }
}

/** The product path: catalog entry -> read/clip -> normalize -> export
  * through `graft.Cli export`, one target per format, then `Cli publish`
  * of a places layer, one seeded upsert round, and reads: of the layer,
  * a bbox search of an indexed FGB written in set-up, and of the GPKG
  * and Shapefile the pass exported.
  */
final class Etl(spark: SparkSession, seed: Long, work: String, tr: Tracer)
    extends Workload(spark, seed, work, tr) {

  val Date = "2026-01-01"
  val catalog = s"$work/inputs/catalog.json"
  val out = s"$work/out"
  val svc = s"$work/svc"
  val files = s"$work/files"
  val batch = s"$work/inputs/batch1"
  val formats = Seq("geojson", "gpkg", "fgb", "geoparquet", "shp")
  private val x = col("x").cast("double")
  private val y = col("y").cast("double")
  private val multi = Map(
    "education" -> ("'school','college','university'", "'school','university'"),
    "health" -> ("'hospital','clinic','pharmacy'", "'hospital'"),
    "markets" -> ("'marketplace','supermarket'", "'retail'"))
  /** target -> source-side SQL predicate per theme table (checks only) */
  private val sourceSql: Map[String, Seq[(String, String)]] = Map(
    "roads" -> Seq("transportation" -> "subtype = 'road'"),
    "buildings" -> Seq("buildings" -> "true"),
    "places" -> Seq("places" -> "true"),
    "power" -> Seq("base" -> "subtype = 'power'")) ++ multi.map { case (t, (p, b)) =>
    t -> Seq("places" -> s"get_json_object(categories, '$$.primary') IN ($p)", "buildings" -> s"class IN ($b)")
  }
  /** (target, format) of each export op, one per format: the large
    * target into GPKG (the reference CLI's default format) first, a
    * multilayer target through the layered GeoJSON route and one as a
    * combined frame. The catalog's other targets (health, power) take
    * routes these already time.
    */
  val exports: Seq[(String, String)] = Seq("buildings" -> "gpkg", "roads" -> "geoparquet",
    "places" -> "fgb", "education" -> "geojson", "markets" -> "shp")

  private def places = spark.read.parquet(s"$inputs/places.parquet")
  private lazy val box = {
    val (x0, y0, x1, y1) = (33.9, -4.7, 41.9, 5.5)
    val (w, h) = ((x1 - x0) / 2, (y1 - y0) / 2)
    val (bx, by) = (x0 + rnd.nextDouble() * w, y0 + rnd.nextDouble() * h)
    (bx, by, bx + w, by + h)
  }

  override def setup(): Unit = {
    val ml = multi.map { case (t, (p, b)) =>
      s"""{"name": "$t", "theme": "places", "type": "place", "filter": "categories.primary IN ($p)",
         | "building_theme": "buildings", "building_filter": "class IN ($b)",
         | "is_multilayer": "true", "sector_title": "${t.capitalize}"}""".stripMargin
    }
    Files.writeString(Paths.get(catalog), (Seq(
      """{"name": "roads", "theme": "transportation", "type": "segment", "filter": "subtype = 'road'", "sector_title": "Roads"}""",
      """{"name": "buildings", "theme": "buildings", "type": "building", "sector_title": "Buildings"}""",
      """{"name": "places", "theme": "places", "type": "place", "sector_title": "Places", "upsert_key": "id"}""",
      """{"name": "power", "theme": "base", "type": "infrastructure", "filter": "subtype = 'power'", "geometry_split": "true", "sector_title": "Power"}"""
    ) ++ ml).mkString("[\n", ",\n", "\n]"))
    // bbox search needs an indexed FGB, which `Cli export` does not write
    Files.createDirectories(Paths.get(files))
    FlatGeobuf.write(places.withColumn("geom", Wkb.wkbFromXY(x, y)), "geom", s"$files/places.fgb", 16)
  }

  override def beforePass(): Unit = {
    Workload.delete(Paths.get(out))
    Workload.delete(Paths.get(svc))
    Files.createDirectories(Paths.get(out))
  }

  /** The catalog load and `Cli.runPipeline` the verbs start with. */
  private def pipeline(name: String, sfDir: String): (QueryConfig, DataFrame) = {
    val cfg = tr.span("config.catalog", "config")(QueryConfig.catalog(spark, catalog)(name))
    (cfg, tr.span("sources.pipeline", "sources")(Cli.runPipeline(spark, cfg, sfDir, "KEN", Date)))
  }

  /** Runs `args` through the `Cli` verb; a tracing pass instead makes
    * the public calls the verb routes to itself, with a span around each.
    */
  private def verb(args: Seq[String])(traced: => Unit): Unit =
    if (tr.active) traced
    else Workload.quietly(Cli.run(spark, args ++ Seq("--country=KEN", s"--date=$Date")))

  private def path(target: String, fmt: String) = s"$out/$target.$fmt"

  private def exportTo(target: String, fmt: String): Unit = {
    val p = path(target, fmt)
    verb(Seq("export", catalog, target, inputs, p, "--geom=x,y")) {
      val (cfg, df) = pipeline(target, inputs)
      tr.span(s"export.$fmt", "export") {
        val f = ExportFormat.fromPath(p)
        if (cfg.isMultilayer && (f == ExportFormat.Gpkg || f == ExportFormat.GeoJson)) {
          val layers = Seq("places", "buildings").map(l => l -> df.filter(col("source_type") === l).drop("source_type"))
          if (f == ExportFormat.Gpkg)
            Exporter.writeGpkgLayers(layers.map { case (l, d) => l -> d.withColumn("geom", Wkb.wkbFromXY(x, y)) },
              p, target = target)
          else
            Exporter.writeGeoJsonLayers(layers.map { case (l, d) => (l, d, GeoJson.pointGeometry(x, y)) },
              p, target = target, generatedAt = Date)
        } else
          Exporter.write(df, p, f, geometryJson = Some(GeoJson.pointGeometry(x, y)), target = target,
            generatedAt = Date, geometryWkb = Some(Wkb.wkbFromXY(x, y)))
      }
    }
  }

  private def publish(sfDir: String, mode: String, span: String): Unit =
    verb(Seq("publish", catalog, "places", sfDir, svc, s"--mode=$mode")) {
      val (cfg, df) = pipeline("places", sfDir)
      tr.span(span, "export") {
        FeatureService.publish(df, svc, cfg.name,
          if (mode == "initial") PublishMode.Initial else PublishMode.Auto, cfg.upsertKey)
      }
    }

  private def layerRows = FeatureService.readLayer(spark, svc, "places").count()

  private def expect(want: => Long)(got: Long): Option[String] =
    if (got == want) None else Some(s"got $got rows, expected $want")

  private def readback(name: String, want: => Long)(read: => Long): Op =
    Op(name, () => tr.span("sources.readback", "sources")(read), expect(want))

  lazy val ops: Seq[Op] = {
    val (bx0, by0, bx1, by1) = box
    // layer rows after the upsert: the batch's new ids join the layer
    lazy val afterUpsert = {
      val ids = spark.read.parquet(s"$batch/places.parquet").select("id")
      places.count() + ids.count() - ids.join(places.select("id"), "id").count()
    }
    lazy val inBox = places.where(x >= bx0 && x <= bx1 && y >= by0 && y <= by1).count()
    exports.map { case (t, f) =>
      Op(s"export:$t:$f", () => { exportTo(t, f); -1L })
    } ++ Seq(
      Op("publish:initial", () => { publish(inputs, "initial", "export.publish"); -1L },
        _ => expect(places.count())(layerRows)),
      Op("publish:upsert", () => { publish(batch, "auto", "export.upsert"); -1L },
        _ => expect(afterUpsert)(layerRows)),
      readback("read:layer", afterUpsert)(FeatureService.readLayer(spark, svc, "places").count()),
      readback("read:fgb_bbox", inBox)(FlatGeobufReader.search(spark, s"$files/places.fgb", bx0, by0, bx1, by1).count()),
      readback("read:gpkg", sourceRows("buildings"))(
        GpkgReader.readFeatures(spark, path("buildings", "gpkg"), "buildings").count()),
      readback("read:shp", sourceRows("markets"))(ShapefileReader.read(spark, s"$out/markets").count()))
  }

  /** Source-side row count of each exported target, by plain SQL on its tables. */
  private lazy val sourceRows: Map[String, Long] = exports.map { case (t, _) =>
    t -> sourceSql(t).map { case (tbl, pred) => spark.read.parquet(s"$inputs/$tbl.parquet").where(pred).count() }.sum
  }.toMap

  override def afterRun(): Seq[(String, String)] = Workload.inParallel(exports) { case (t, f) =>
    val tables = if (multi.contains(t)) Seq(s"${t}_places", s"${t}_buildings") else Seq(t)
    scala.util.Try(Workload.readBack(spark, path(t, f), f, tables)).fold(
      e => Some(s"read back failed: $e"),
      got => expect(sourceRows(t))(got)).map(s"export:$t:$f" -> _)
  }.flatten

  override def passBytes(): Map[String, Long] = {
    def size(t: String, f: String) =
      if (f != "shp") Workload.bytesUnder(Paths.get(path(t, f)))
      else Seq(".shp", ".shx", ".dbf", ".prj", ".cpg").map(e => Workload.bytesUnder(Paths.get(s"$out/$t$e"))).sum
    formats.map(f => f -> exports.collect { case (t, `f`) => size(t, f) }.sum).toMap +
      ("layer" -> Workload.bytesUnder(Paths.get(svc)))
  }

  /** Per format: a frame with one null-geometry row, and a frame with
    * a TimestampType attribute. Each must write and read back 3 rows.
    */
  override def probes(): Seq[(String, Option[String])] = {
    val base = spark.range(3).select(col("id"), concat(lit("n"), col("id").cast("string")).as("name"),
      (lit(36.8) + col("id") / 10).as("x"), (lit(-1.3) + col("id") / 10).as("y"))
    val frames = Seq(
      "null_geometry" -> base.withColumn("x", when(col("id") === 1, lit(null).cast("double")).otherwise(col("x"))),
      "timestamp" -> base.withColumn("ts", timestamp_seconds(lit(1700000000L) + col("id"))))
    Files.createDirectories(Paths.get(s"$work/probes"))
    for ((kind, df) <- frames; f <- formats) yield {
      val p = s"$work/probes/$kind.$f"
      val r = scala.util.Try {
        Exporter.write(df, p, ExportFormat.fromPath(p), geometryJson = Some(GeoJson.pointGeometry(x, y)),
          geometryWkb = Some(Wkb.wkbFromXY(x, y)))
        Workload.readBack(spark, p, f, Seq("features"))
      }
      s"$kind:$f" -> r.fold(e => Some(e.toString.take(300)), expect(3))
    }
  }
}

/** Registry rows (`SparkEntry.queries`), built and counted over the
  * generated tables in a fixed order. After the timed loop each row's
  * result is written for the DuckDB oracle check. Spans put the
  * builder and action of dedup rows in the operators layer, of the
  * others in the queries and spark layers.
  */
final class RegistryRows(spark: SparkSession, seed: Long, work: String, tr: Tracer, rows: Seq[String])
    extends Workload(spark, seed, work, tr) {

  private val q = SparkEntry.queries
  val results = s"$work/results"

  lazy val ops: Seq[Op] = rows.map { name =>
    val (build, action) =
      if (Rows.dedup.contains(name)) (("operators.build", "operators"), ("operators.exec", "operators"))
      else (("queries.build", "queries"), ("spark.action", "spark"))
    Op(s"q:$name", () => {
      val df = tr.span(build._1, build._2)(q(name)(spark, inputs))
      if (tr.active) tr.span("spark.plan", "spark")(df.queryExecution.executedPlan)
      tr.span(action._1, action._2)(df.count())
    })
  }

  override def afterRun(): Seq[(String, String)] = Workload.inParallel(rows) { n =>
    scala.util.Try(q(n)(spark, inputs).write.parquet(s"$results/$n"))
      .failed.toOption.map(e => s"q:$n" -> s"result write failed: $e")
  }.flatten

  override def oracle: Map[String, String] = rows.map(n => n -> SparkEntry.oracleSql(n)).toMap
}

/** Registry row sets. */
object Rows {
  /** A systematic sample (every 50th by name) of the 281
    * oracle-checked, non-streaming rows whose steady time was under
    * 0.7 s in the sf0.1 sweep: the short-row class where fixed
    * per-query cost dominates. TPC-H Q1 runs first, cold.
    */
  val short: Seq[String] = Seq("q1_pricing", "dd_blocked_er", "q_histogram", "q_scd2", "sm_kfold",
    "tx_charclass_profile")
  /** Dedup and similarity rows: the three sf1 scale-killers, exact and
    * SimHash dedup.
    */
  val dedup: Seq[String] = Seq("dd_jaro_winkler", "sim_knn_mutual", "dd_semantic_pairs", "dd_exact",
    "dd_simhash")
}
