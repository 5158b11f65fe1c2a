package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The b6 4-type Feature model (SURVEY.md §1.1; reference world.go:52-64,
  * 157-177): every record is a Feature identified by
  * `FeatureID(type, namespace, value)` with the total order
  * (type, ns, value) — `FeatureID.Less` — and dynamic MAP tags.
  *
  * Spark-native shape: ONE unified DataFrame with (ftype INT, ns STRING,
  * fid LONG, tags MAP) plus type-dispatched nullable geometry columns —
  * the schema-on-read analogue of the reference's heterogeneous world.
  * `Typed` queries are plain predicates on ftype (pushable to the scan);
  * b6 `take` semantics sort by the full id triple, never a bare limit.
  */
object Features {

  /** FeatureType codes exactly as the reference enum (world.go:52-64). */
  val TPoint = 0
  val TPath = 1
  val TArea = 2
  val TRelation = 3

  /** FeatureID total order — (type, namespace, value), world.go:157-177. */
  def idOrder: Seq[Column] = Seq(col("ftype"), col("ns"), col("fid"))

  /** Deterministic relation fixture: 5 relations grouping the regions by
    * fid % 5, each member carrying its zone as the role (OSM-relation
    * shape, world.go:605-616). */
  def relationMembers(g: Long): Seq[(Int, String, Long, String)] =
    Synth.regions.toSeq.zipWithIndex
      .filter { case (_, i) => i % 5 == g }
      .map { case (r, i) => (TArea, "graft/region", i.toLong, r.zone) }

  /** The unified 4-type world over the fixture tables: image point features,
    * path features, region area features, and the relation fixture. */
  def world(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val points = Tables.images(spark, sfDir)
      .select(lit(TPoint).as("ftype"), lit("graft/image").as("ns"),
        col("image_id").as("fid"),
        map(lit("status"), col("status"), lit("priority"), col("priority")).as("tags"),
        col("lat"), col("lng"))
    val paths = Tables.paths(spark)
      .select(lit(TPath).as("ftype"), lit("graft/path").as("ns"),
        expr("CAST(split(path_id, '-')[1] AS BIGINT)").as("fid"),
        map(lit("kind"), lit("road")).as("tags"),
        col("lats"), col("lngs"))
    val areas = Tables.regions(spark)
      .select(lit(TArea).as("ftype"), lit("graft/region").as("ns"),
        expr("CAST(split(region_id, '-')[1] AS BIGINT)").as("fid"),
        map(lit("kind"), col("kind"), lit("zone"), col("zone")).as("tags"),
        col("rings_lat"), col("rings_lng"))
    val relations = (0L until 5L).map { g =>
      (g, relationMembers(g))
    }.toDF("fid", "members")
      .select(lit(TRelation).as("ftype"), lit("graft/relation").as("ns"),
        col("fid"), map(lit("kind"), lit("zone-group")).as("tags"),
        col("members"))
    points
      .unionByName(paths, allowMissingColumns = true)
      .unionByName(areas, allowMissingColumns = true)
      .unionByName(relations, allowMissingColumns = true)
  }

  /** b6 `Typed` query (search.go:136-187): restrict to one feature type —
    * a pushable predicate, the analogue of the reference's key-range scan
    * over the (type, ns, value)-ordered index. */
  def typed(df: DataFrame, ftype: Int): DataFrame = df.where(col("ftype") === ftype)

  /** Relation member dereference (world.go:605-616 + the id-lookup join of
    * SURVEY §2.4): explode members and resolve each against the world.
    * @return (rel_fid, role, mtype, mns, mfid, resolved). */
  def dereferenceMembers(world: DataFrame): DataFrame = {
    val rels = typed(world, TRelation)
      .select(col("fid").as("rel_fid"), explode(col("members")).as("m"))
      .select(col("rel_fid"), col("m._4").as("role"),
        col("m._1").as("mtype"), col("m._2").as("mns"), col("m._3").as("mfid"))
    val ids = world.select(col("ftype").as("mtype"), col("ns").as("mns"),
      col("fid").as("mfid"), lit(true).as("resolved"))
    rels.join(ids, Seq("mtype", "mns", "mfid"), "left")
      .select(col("rel_fid"), col("role"), col("mtype"), col("mns"), col("mfid"),
        coalesce(col("resolved"), lit(false)).as("resolved"))
  }
}
