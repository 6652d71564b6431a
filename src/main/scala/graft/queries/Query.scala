package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One corpus row: its name, the DuckDB SQL the driver hash-compares its
  * output against, and the Spark plan built from a scale-factor directory.
  */
final case class Query(name: String, oracleSql: String,
                       build: (SparkSession, String) => DataFrame)
