package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its Spark body (session, testdata dir) and, where
  * DuckDB can express it, the oracle SQL over the same parquet tables.
  *
  * Conventions shared with the oracle side (the driver hash-compares):
  *  - every computed column is aliased identically in Spark and SQL;
  *  - floating aggregates are rounded (sum order differs between engines,
  *    last-bit drift is expected — rounding makes the comparison stable);
  *  - timestamps leave the query as epoch microseconds (BIGINT) or
  *    formatted strings, never raw timestamps (parquet ns vs µs physical
  *    types would otherwise make schema comparison flaky);
  *  - results carry an ORDER BY on a unique key so row order is total.
  *
  * `gatePinned` marks an oracle that replays state trained at the gate SF
  * (IVF centroids, PQ codebooks, a planned k — see [[IvfOracle]]): at any
  * other SF the Spark side retrains on its corpus, so `graft.Verify`
  * drops such oracles off-gate and the query is checked rows-only.
  */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    gatePinned: Boolean = false)
