package graft.operators

import org.apache.spark.sql.SparkSession

/** What a published serving version holds: float graph cells, PQ-coded
  * cells, or PQ-coded cells in an OPQ-rotated space. The tier is read
  * from the layout the two publishers write ([[of]]); no caller picks
  * it.
  */
sealed trait ServingTier {
  def name: String
}

object ServingTier {
  case object Float extends ServingTier { val name = "float" }
  case object Pq extends ServingTier { val name = "PQ" }
  /** A PQ version whose index carries a rotation ([[Opq.buildIvfOpq]]);
    * [[Similarity.readIvfPq]] reads it with the other artifacts.
    */
  case object Opq extends ServingTier { val name = "OPQ" }

  /** The tier of `root`'s version `version`, from its layout:
    * `artifacts/rotation` is OPQ and `artifacts/codebook` is PQ (both
    * [[GraphAnn.publishPqServing]]), and `artifacts/` alone is float
    * ([[GraphAnn.publishServing]]). A version with no `artifacts/` (a
    * [[GraphAnn.publishGraphCells]] root, say) is not a serving version
    * and is refused, as is the older OPQ layout that kept the rotation
    * at `<version>/rotation`: read as PQ it would serve unrotated.
    * Directory checks only — reading the tier launches no Spark job.
    */
  def of(spark: SparkSession, root: String, version: String): ServingTier = {
    val dir = s"$root/$version"
    def has(p: String) = graft.core.Fs.exists(spark, s"$dir/$p")
    if (!has("artifacts"))
      throw new IllegalStateException(
        s"$dir is not a serving version: it has no artifacts/ — publish " +
          "it with GraphAnn.publishServing (float) or " +
          "GraphAnn.publishPqServing (PQ and OPQ)")
    if (has("artifacts/rotation")) Opq
    else if (has("rotation"))
      throw new IllegalStateException(
        s"$dir keeps its OPQ rotation at rotation/, outside artifacts/ — " +
          "an older layout this reader would serve unrotated; republish " +
          "the index with GraphAnn.publishPqServing")
    else if (has("artifacts/codebook")) Pq
    else Float
  }
}
