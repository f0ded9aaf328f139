package graft.operators

/** The shared micro-quantization and bucketing of the mergeable
  * histogram quantile sketch — ONE definition parsed by the q181
  * batch query and its DuckDB oracle, so both agree bitwise by
  * construction (the bm25Score single-parse rule).
  *
  * value -> micro: exact integer micro-units, floor(v * 1000);
  * micro -> bucket: 500-micro (0.5-unit) wide histogram cells. Both
  * floor() steps are IEEE-deterministic (double multiply/divide are
  * correctly rounded), so every engine lands each value in the same
  * cell.
  */
object Hist {
  val MicroSql = "cast(floor(value * 1000.0) as bigint)"
  val BucketSql = "cast(floor(micro / 500.0) as bigint)"
}
