package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Every registered query, assembled from the family lists in
  * `graft.queries`. `all` and `oracles` are views of the same list, so a
  * query and its oracle cannot drift apart. */
object Queries {

  /** Concatenate family lists; a name registered twice is an error, not a
    * silent overwrite. */
  private[graft] def assemble(families: Seq[QueryDef]*): Seq[QueryDef] = {
    val defs = families.flatten
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"query names registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    defs
  }

  val defs: Seq[QueryDef] = assemble(Relational.queries, Dedup.queries,
    Text.queries, Embeddings.queries, Multimodal.queries, Streaming.queries,
    Sourmash.queries, AggSql.queries)

  val all: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.build).toMap

  val oracles: Map[String, String] = defs.map(q => q.name -> q.oracle).toMap
}
