package graft.checkpoint

import graft.exprs.{FeatureExprParser, FitStats}
import graft.profile.ColumnProfile
import graft.search.{LayerLog, Scored}
import org.apache.spark.GraftBridge
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
  * holding the [[SearchState]] after layer N, the layer's duration and the
  * run's per-partition input lineage. The driver already holds all of it,
  * so a commit runs no Spark job: the document is written to a temporary
  * name and published with one atomic rename (a layer directory without a
  * manifest is an aborted write and is ignored). Every double is stored
  * bit-exactly (finite values as JSON numbers, NaN and ±Infinity as their
  * raw IEEE bits), and a [[Scored]] as its canonical key, parsed back with
  * [[FeatureExprParser]]. The search's layer loop starts from
  * [[SearchState.empty]] or from [[load]] alike, so a resumed search takes
  * the same steps, and stops at the same layer, as a fresh one
  * (resume == fresh, property-tested).
  *
  * [[audit]] and [[lineage]] read the committed manifests back as tables:
  * per-candidate metrics, and per-partition input lineage (partition id ->
  * row count) per layer.
  */
object Checkpoint {

  /** The whole state of a CDFC search after layer `layer`; each layer is a
    * step from one state to the next, and nothing else carries over.
    *
    * @param seen      canonical keys of every evaluated candidate
    * @param scores    gain baseline per key (MI, or the inherited score)
    * @param survivors every kept candidate in evaluation order; the
    *                  enumeration pool is the passed or inherited ones
    * @param lrAuc     CV-LR AUC channel of the two-stage oracle (empty when
    *                  LR is off)
    * @param layers    accounting of layers 2..`layer`
    * @param champions the champion after each layer 1..`layer` (none before
    *                  one exists): the stop rules and `best` derive from it
    */
  final case class SearchState(
      layer: Int,
      seen: Set[String],
      fingerprints: Set[Long],
      scores: Map[String, Double],
      survivors: Vector[Scored],
      fit: FitStats,
      profiles: Map[String, ColumnProfile],
      lrAuc: Map[String, Double],
      layers: Seq[LayerLog],
      champions: Seq[Option[Scored]])

  object SearchState {
    /** Before layer 1: where a fresh search starts. */
    val empty = SearchState(0, Set.empty, Set.empty, Map.empty, Vector.empty, FitStats.empty,
      Map.empty, Map.empty, Seq.empty, Seq.empty)
  }

  final case class AuditRow(
      layer: Int, expr: String, score: Double, complexity: Int,
      passed: Boolean, inherited: Boolean, duration_ms: Long)

  final case class LineageRow(partition_id: Int, rows: Long, layer: Int)

  def layerDir(dir: String, layer: Int) = s"$dir/layer=$layer"

  private val Manifest = "manifest.json"

  /** Commits layer `st.layer`; `lineage` holds the input's (partition id,
    * rows) pairs ([[partitionRows]]).
    */
  def save(dir: String, st: SearchState, durationMs: Long, lineage: Seq[(Int, Long)]): Unit = {
    val d = Files.createDirectories(Paths.get(layerDir(dir, st.layer)))
    val doc = ("layer" -> st.layer) ~ ("complete" -> true) ~ ("state" -> stateJson(st)) ~
      ("duration_ms" -> durationMs) ~
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
    * [[AuditRow]], one row per survivor the layer added (`layer` is its
    * complexity). */
  def audit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    committed(dir).flatMap { case (l, m) =>
      val doc = read(m)
      val ms = (doc \ "duration_ms").extract[Long]
      (doc \ "state" \ "survivors").children.map(readScored).filter(_.complexity == l).map(s =>
        AuditRow(s.complexity, s.key, s.score, s.complexity, s.passed, s.inherited, ms))
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
    GraftBridge.foldPartitions(df)((i, rows) => i -> rows.size.toLong).toSeq.filter(_._2 > 0)

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

  private def scoredJson(s: Scored): JValue =
    ("expr" -> s.key) ~ ("score" -> num(s.score)) ~ ("complexity" -> s.complexity) ~
      ("passed" -> s.passed) ~ ("inherited" -> s.inherited)

  private def readScored(v: JValue): Scored = {
    val key = (v \ "expr").extract[String]
    Scored(FeatureExprParser.parse(key), key, (v \ "complexity").extract[Int], dbl(v \ "score"),
      (v \ "passed").extract[Boolean], (v \ "inherited").extract[Boolean])
  }

  private def stateJson(st: SearchState): JValue =
    ("layer" -> st.layer) ~ ("seen" -> st.seen.toList.sorted) ~
      ("fingerprints" -> st.fingerprints.toList.sorted) ~ ("scores" -> doubles(st.scores)) ~
      ("survivors" -> st.survivors.map(scoredJson)) ~
      ("fit" -> JObject(st.fit.m.toList.sortBy(_._1).map { case (k, vs) =>
        k -> JArray(vs.map(num).toList) })) ~
      ("profiles" -> st.profiles.toList.sortBy(_._1).map { case (k, p) =>
        ("key" -> k) ~ ("name" -> p.name) ~ ("isNumeric" -> p.isNumeric) ~
          ("count" -> p.count) ~ ("missing" -> p.missing) ~ ("min" -> num(p.min)) ~
          ("max" -> num(p.max)) ~ ("hasZero" -> p.hasZero) ~ ("distinct" -> p.distinct) }) ~
      ("lrAuc" -> doubles(st.lrAuc)) ~
      ("layers" -> st.layers.map(l => ("complexity" -> l.complexity) ~
        ("enumerated" -> l.enumerated) ~ ("survived" -> l.survived) ~ ("dropped" -> l.dropped))) ~
      ("champions" -> st.champions.map(_.fold[JValue](JNull)(scoredJson)))

  private def readState(v: JValue): SearchState = SearchState(
    layer = (v \ "layer").extract[Int],
    seen = (v \ "seen").extract[List[String]].toSet,
    fingerprints = (v \ "fingerprints").extract[List[Long]].toSet,
    scores = readDoubles(v \ "scores"),
    survivors = (v \ "survivors").children.map(readScored).toVector,
    fit = FitStats((v \ "fit").asInstanceOf[JObject].obj.map { case (k, vs) =>
      k -> vs.children.map(dbl).toIndexedSeq }.toMap),
    profiles = (v \ "profiles").children.map { p =>
      (p \ "key").extract[String] -> ColumnProfile((p \ "name").extract[String],
        (p \ "isNumeric").extract[Boolean], (p \ "count").extract[Long],
        (p \ "missing").extract[Long], dbl(p \ "min"), dbl(p \ "max"),
        (p \ "hasZero").extract[Boolean], (p \ "distinct").extract[Long]) }.toMap,
    lrAuc = readDoubles(v \ "lrAuc"),
    layers = (v \ "layers").children.map(l => LayerLog((l \ "complexity").extract[Int],
      (l \ "enumerated").extract[Int], (l \ "survived").extract[Int], (l \ "dropped").extract[Int])),
    champions = (v \ "champions").children.map(c => Option.when(c != JNull)(readScored(c))))
}
