package graft.operators

import org.apache.spark.sql.SparkSession

/** What a published serving version holds: float graph cells, PQ-coded
  * cells, or PQ-coded cells in an OPQ-rotated space. The tier is read
  * from the layout the three publishers write ([[of]]); no caller picks
  * it.
  */
sealed trait ServingTier {
  def name: String

  /** The OPQ rotation the version's cells and probes live in; None on
    * the float and PQ tiers. One small read on an OPQ version.
    */
  def rotation(spark: SparkSession): Option[Array[Array[scala.Float]]] = None
}

object ServingTier {
  case object Float extends ServingTier { val name = "float" }
  case object Pq extends ServingTier { val name = "PQ" }

  /** An [[graft.operators.Opq.publishPqServingOpq]] version. The rotation
    * is read when a caller asks for it, so reading the tier launches no
    * Spark job.
    */
  final case class Opq(versionDir: String) extends ServingTier {
    val name = "OPQ"
    override def rotation(
        spark: SparkSession): Option[Array[Array[scala.Float]]] =
      Some(graft.operators.Opq.readRotation(spark, s"$versionDir/rotation"))
  }

  /** The tier of `root`'s version `version`, from its layout: `rotation/`
    * is OPQ ([[graft.operators.Opq.publishPqServingOpq]]),
    * `artifacts/codebook` is PQ ([[GraphAnn.publishPqServing]]), and
    * `artifacts/` alone is float ([[GraphAnn.publishServing]]). A version
    * with no `artifacts/` (a [[GraphAnn.publishGraphCells]] root, say)
    * is not a serving version and is refused. Directory checks only.
    */
  def of(spark: SparkSession, root: String, version: String): ServingTier = {
    val dir = s"$root/$version"
    def has(p: String) = graft.core.Fs.exists(spark, s"$dir/$p")
    if (!has("artifacts"))
      throw new IllegalStateException(
        s"$dir is not a serving version: it has no artifacts/ — publish " +
          "it with GraphAnn.publishServing (float), " +
          "GraphAnn.publishPqServing (PQ) or Opq.publishPqServingOpq (OPQ)")
    if (has("rotation")) Opq(dir)
    else if (has("artifacts/codebook")) Pq
    else Float
  }
}
