package graft

/** DuckDB oracle SQL: the independent reference every `SparkEntry` query
  * is checked against, bit-exact, through `SparkEntry.oracleSql`.
  *
  * The independence rule: code here builds SQL strings and nothing else.
  * It imports no Spark API and no Spark-path stage from
  * `graft.operators`, so a defect in a serving stage cannot leak into the
  * reference that is meant to catch it. The one exception is pure
  * driver-side model data that both sides must share by definition: the
  * LSH plane matrix and probe masks, embedded as SQL literals. Spark-side
  * code may import from here (a few non-ANN oracles reuse the fragments);
  * the reverse direction stays closed.
  *
  * Exactness contract of every fragment: folds run left to right
  * (DuckDB `list_sum` order, which the Spark kernels replay), rounding
  * happens only where the Spark stage rounds, and every rank breaks its
  * ties on a rounded score plus an id column, so both engines order rows
  * identically even where they differ in the last ulp.
  */
package object oracle
