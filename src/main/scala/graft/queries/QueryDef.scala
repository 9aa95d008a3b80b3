package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the plan it builds over the parquet
  * tables at an sf dir, and the DuckDB SQL that must return the same rows. */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)
