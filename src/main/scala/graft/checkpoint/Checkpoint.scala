package graft.checkpoint

import graft.exprs.FitStats
import graft.profile.ColumnProfile
import graft.search.LayerLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Snapshot checkpointing for the layered search — the Iceberg-snapshot
  * analog (SURVEY §4.3): each completed layer commits ONE document,
  *
  *   dir/layer=N/manifest.json
  *
  * holding the full search state, the layer's audit rows and the run's
  * per-partition input lineage. The driver already holds all of it, so a
  * commit runs no Spark job: the document is written to a temporary name
  * and published with one atomic rename (a layer directory without a
  * manifest is an aborted write and is ignored). Every double is stored
  * bit-exactly (finite values as JSON numbers, NaN and ±Infinity as their
  * raw IEEE bits), so resume loads the newest committed layer's state
  * verbatim, skips every completed layer and continues on the exact float
  * path of the original run (resume == fresh, property-tested).
  *
  * [[audit]] and [[lineage]] read the committed manifests back as tables:
  * per-candidate metrics, and per-partition input lineage (partition id ->
  * row count) per layer.
  */
object Checkpoint {

  final case class SurvivorRow(
      layer: Int, expr: String, score: Double, complexity: Int,
      passed: Boolean, inherited: Boolean)

  final case class SearchState(
      layer: Int,
      seen: Set[String],
      fingerprints: Set[Long],
      scores: Map[String, Double],
      survivors: Seq[SurvivorRow],
      fit: FitStats,
      profiles: Map[String, ColumnProfile],
      /** CV-LR AUC channel of the two-stage oracle (empty when LR is off);
        * persisted so a resumed search selects champions from the same
        * LR-scored pool as the fresh run. */
      lrAuc: Map[String, Double] = Map.empty,
      /** Per-layer accounting of every layer committed so far, so a resumed
        * search reports the same layer log as a fresh one. */
      layers: Seq[LayerLog] = Seq.empty)

  final case class AuditRow(
      layer: Int, expr: String, score: Double, complexity: Int,
      passed: Boolean, inherited: Boolean, duration_ms: Long)

  final case class LineageRow(partition_id: Int, rows: Long, layer: Int)

  def layerDir(dir: String, layer: Int) = s"$dir/layer=$layer"

  private val Manifest = "manifest.json"

  /** Commits layer `st.layer`: `audit` holds the layer's new candidates,
    * `lineage` the input's (partition id, rows) pairs ([[partitionRows]]).
    */
  def save(dir: String, st: SearchState, audit: Seq[SurvivorRow], durationMs: Long,
      lineage: Seq[(Int, Long)]): Unit = {
    val d = Files.createDirectories(Paths.get(layerDir(dir, st.layer)))
    val doc = ("layer" -> st.layer) ~ ("complete" -> true) ~ ("state" -> stateJson(st)) ~
      ("audit" -> (("duration_ms" -> durationMs) ~ ("rows" -> audit.map(rowJson)))) ~
      ("lineage" -> lineage.map { case (p, n) => ("partition_id" -> p) ~ ("rows" -> n) })
    val tmp = d.resolve(s"$Manifest.tmp")
    Files.writeString(tmp, compact(render(doc)))
    Files.move(tmp, d.resolve(Manifest), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Newest committed layer <= maxLayer, if any. */
  def load(dir: String, maxLayer: Int): Option[SearchState] =
    committed(dir).filter(_._1 <= maxLayer).lastOption
      .map { case (_, m) => readState(read(m) \ "state") }

  /** Per-candidate metrics of every committed layer: the columns of
    * [[AuditRow]]. */
  def audit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    committed(dir).flatMap { case (_, m) =>
      val doc = read(m)
      val ms = (doc \ "audit" \ "duration_ms").extract[Long]
      (doc \ "audit" \ "rows").children.map(readRow).map(r =>
        AuditRow(r.layer, r.expr, r.score, r.complexity, r.passed, r.inherited, ms))
    }.toDF()
  }

  /** Per-partition input lineage of every committed layer: the columns of
    * [[LineageRow]]. */
  def lineage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    committed(dir).flatMap { case (l, m) =>
      (read(m) \ "lineage").children.map(r =>
        LineageRow((r \ "partition_id").extract[Int], (r \ "rows").extract[Long], l))
    }.toDF()
  }

  /** (partition id, rows) of `df`: one shuffle-free job counting each
    * partition of the executed plan — the values `groupBy(
    * spark_partition_id()).count()` gives, without its exchange. */
  def partitionRows(df: DataFrame): Seq[(Int, Long)] =
    df.queryExecution.toRdd
      .mapPartitionsWithIndex((i, rows) => Iterator(i -> rows.size.toLong))
      .collect().toSeq.filter(_._2 > 0)

  // ---- manifest documents ---------------------------------------------

  /** (layer, manifest path) of every committed layer directory, by layer. */
  private def committed(dir: String): Seq[(Int, Path)] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Seq.empty
    val LayerName = "layer=(\\d+)".r
    val dirs = Files.list(root)
    try dirs.iterator().asScala.toSeq.flatMap { p =>
        (p.getFileName.toString, p.resolve(Manifest)) match {
          case (LayerName(n), m) if Files.exists(m) => Seq(n.toInt -> m)
          case _                                    => Seq.empty
        }
      }.sortBy(_._1)
    finally dirs.close()
  }

  private def read(manifest: Path): JValue =
    parse(Files.readString(manifest), useBigIntForLong = false)

  private implicit val formats: Formats = DefaultFormats

  /** Finite doubles are JSON numbers (shortest round-trip form); NaN and
    * ±Infinity, which JSON cannot hold, are the hex of their raw bits. */
  private def num(d: Double): JValue =
    if (java.lang.Double.isFinite(d)) JDouble(d)
    else JString(java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d)))

  private def dbl(v: JValue): Double = v match {
    case JString(s) => java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(s, 16))
    case n          => n.extract[Double]
  }

  private def doubles(m: Map[String, Double]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, d) => k -> num(d) })

  private def readDoubles(v: JValue): Map[String, Double] =
    v.asInstanceOf[JObject].obj.map { case (k, d) => k -> dbl(d) }.toMap

  private def rowJson(r: SurvivorRow): JValue =
    ("layer" -> r.layer) ~ ("expr" -> r.expr) ~ ("score" -> num(r.score)) ~
      ("complexity" -> r.complexity) ~ ("passed" -> r.passed) ~ ("inherited" -> r.inherited)

  private def readRow(v: JValue): SurvivorRow = SurvivorRow((v \ "layer").extract[Int],
    (v \ "expr").extract[String], dbl(v \ "score"), (v \ "complexity").extract[Int],
    (v \ "passed").extract[Boolean], (v \ "inherited").extract[Boolean])

  private def stateJson(st: SearchState): JValue =
    ("layer" -> st.layer) ~ ("seen" -> st.seen.toList.sorted) ~
      ("fingerprints" -> st.fingerprints.toList.sorted) ~ ("scores" -> doubles(st.scores)) ~
      ("survivors" -> st.survivors.map(rowJson)) ~
      ("fit" -> JObject(st.fit.m.toList.sortBy(_._1).map { case (k, vs) =>
        k -> JArray(vs.map(num).toList) })) ~
      ("profiles" -> st.profiles.toList.sortBy(_._1).map { case (k, p) =>
        ("key" -> k) ~ ("name" -> p.name) ~ ("isNumeric" -> p.isNumeric) ~
          ("count" -> p.count) ~ ("missing" -> p.missing) ~ ("min" -> num(p.min)) ~
          ("max" -> num(p.max)) ~ ("hasZero" -> p.hasZero) ~ ("distinct" -> p.distinct) }) ~
      ("lrAuc" -> doubles(st.lrAuc)) ~
      ("layers" -> st.layers.map(l => ("complexity" -> l.complexity) ~
        ("enumerated" -> l.enumerated) ~ ("survived" -> l.survived) ~ ("dropped" -> l.dropped)))

  private def readState(v: JValue): SearchState = SearchState(
    layer = (v \ "layer").extract[Int],
    seen = (v \ "seen").extract[List[String]].toSet,
    fingerprints = (v \ "fingerprints").extract[List[Long]].toSet,
    scores = readDoubles(v \ "scores"),
    survivors = (v \ "survivors").children.map(readRow),
    fit = FitStats((v \ "fit").asInstanceOf[JObject].obj.map { case (k, vs) =>
      k -> vs.children.map(dbl).toIndexedSeq }.toMap),
    profiles = (v \ "profiles").children.map { p =>
      (p \ "key").extract[String] -> ColumnProfile((p \ "name").extract[String],
        (p \ "isNumeric").extract[Boolean], (p \ "count").extract[Long],
        (p \ "missing").extract[Long], dbl(p \ "min"), dbl(p \ "max"),
        (p \ "hasZero").extract[Boolean], (p \ "distinct").extract[Long]) }.toMap,
    lrAuc = readDoubles(v \ "lrAuc"),
    layers = (v \ "layers").children.map(l => LayerLog((l \ "complexity").extract[Int],
      (l \ "enumerated").extract[Int], (l \ "survived").extract[Int], (l \ "dropped").extract[Int])))
}
