package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked gate: `build(spark, sfDir)` is the engine plan and
  * `oracle` the DuckDB SQL whose rows it must hash-match on the same
  * parquet tables. The oracle is by-name, so building the registry
  * evaluates no SQL.
  */
final class Gate(val name: String,
    val build: (SparkSession, String) => DataFrame, oracleSql: => String) {
  def oracle: String = oracleSql
}

object Gate {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracle: => String): Gate = new Gate(name, build, oracle)

  /** The registry: every gate, one family file each. */
  lazy val all: Seq[Gate] =
    PaperGates.gates ++ GraphGates.gates ++ DedupGates.gates ++
      AnnGates.gates ++ TextGates.gates ++ DocsGates.gates ++
      EventGates.gates ++ WarehouseGates.gates ++ MediaGates.gates
}
