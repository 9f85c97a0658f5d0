package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Enums, Geo, Hashing}

/** Bronze → silver transform: the whole of STEP 2 as one declarative plan
  * (reference: `02_raw_telemetry_transform.py:265-343` — an
  * `INSERT INTO ... SELECT` the Python driver batches by day; Catalyst's
  * partitioning replaces the hand-rolled ~500k-row batch planner entirely,
  * SURVEY §4).
  *
  * Scale design: the transform is a pure narrow map over the scan — no
  * shuffle, fully codegen'd (enum CASE chains, sha2, regex position parse).
  * Dedup modes add exactly one shuffle each:
  *  - append: `left_anti` on the hash vs the existing table (J3,
  *    `02_raw_telemetry_transform.py:374-378`);
  *  - overwrite/upsert: union + keep-latest-by-ingested_at window (J4,
  *    `ON CONFLICT DO UPDATE` semantics of `:347-365`) — plain Spark, no
  *    Delta dependency.
  */
object TelemetryTransform {

  /** The STEP 2 select list. Input must carry the F1 bronze columns.
    * `passthrough` columns (e.g. a test row id) are appended unchanged. */
  def transform(raw: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    // native parse_position (codegen'd) instead of the UDF form: the UDF
    // was the one non-codegen element in the silver projection (encoder
    // round-trip per row); same kernel grammar, same nulls
    graft.plans.GraftExtensions.register(raw.sparkSession)
    raw
      // WHERE timestamp IS NOT NULL AND device_id IS NOT NULL (:339-342)
      .where(col("timestamp").isNotNull && col("device_id").isNotNull)
      .select(passthrough.map(col) ++ Seq(
        col("timestamp"),
        // one timestamp per query, kept out of the generated source so
        // the projection's compiled class is reused across runs
        graft.plans.QueryTimestampExpression.queryTimestamp()
          .as("ingested_at"),
        Hashing.rawEventHashId(col("device_id"), col("timestamp"))
          .as("raw_event_hash_id"),
        col("device_id"),
        // device_id || '_' || DATE(timestamp) (:274)
        concat(col("device_id"), lit("_"),
          date_format(col("timestamp"), "yyyy-MM-dd")).as("device_date"),
        Enums.parseBool(col("system_engaged")).as("system_engaged"),
        Enums.parseBool(col("parking_brake_applied"))
          .as("parking_brake_applied"),
        graft.plans.ParsePositionExpression
          .parsePositionNative(col("current_position"))
          .as("current_position"),
        col("current_speed").cast("double").as("current_speed"),
        col("load_weight").cast("double").as("load_weight"),
        Enums.mapState(col("state")).as("state"),
        Enums.mapSoftwareState(col("software_state")).as("software_state"),
        Enums.mapPrndl(col("prndl")).as("prndl"),
        normalizeExtras(raw).as("extras")): _*)
  }

  /** SCD Type-2 versioning: turn a change stream (key, change_ts, attrs…)
    * into versioned dimension rows with [effective_from, effective_to)
    * validity — effective_to = next change's timestamp per key, open
    * (null) for the current version. One window shuffle on the key; the
    * standard warehouse dimension-history builder, and the inverse of
    * [[graft.operators.IntervalJoin.asofJoin]] (as-of against the change
    * stream == interval lookup against this output). */
  def scd2(changes: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // deterministic total order: tied change timestamps tiebreak on the
    // remaining attribute columns (as one struct), so the version chain is
    // stable across engines and partitionings
    val attrs = changes.columns.filterNot(c => c == keyCol || c == tsCol)
    val order = Seq(col(tsCol)) ++
      (if (attrs.nonEmpty) Seq(struct(attrs.map(col): _*)) else Nil)
    val w = Window.partitionBy(keyCol).orderBy(order: _*)
    changes
      .withColumn("effective_from", col(tsCol))
      .withColumn("effective_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("effective_to").isNull)
  }

  /** extras: NULL/blank → null; JSON-looking (`{...}`/`[...]`) → kept;
    * anything else wrapped as a JSON string value — `to_jsonb(text)`
    * fallback semantics (`02_raw_telemetry_transform.py:328-337`). */
  private def normalizeExtras(raw: DataFrame) = {
    val e = col("extras")
    // JSON-encode the bare string: to_json gives {"v":<encoded>}; strip the
    // 5-char prefix and closing brace to keep just <encoded>.
    val wrapped = to_json(struct(e.as("v")))
    val asJsonString = wrapped.substr(lit(6), length(wrapped) - 6)
    when(e.isNull || trim(e) === "", lit(null).cast("string"))
      .when(e.rlike("^\\s*\\{.*\\}\\s*$") || e.rlike("^\\s*\\[.*\\]\\s*$"), e)
      .otherwise(asJsonString)
  }

  /** Incremental append: drop rows whose hash already exists in the target
    * (`NOT EXISTS` anti-join, `:374-378`). */
  def appendNew(newRows: DataFrame, existing: DataFrame): DataFrame =
    newRows.join(existing.select("raw_event_hash_id"),
      Seq("raw_event_hash_id"), "left_anti")

  /** Incremental append against a HUGE existing table: a bloom filter of
    * existing hashes (built once, broadcast with the closure) prunes the
    * new batch to possible-duplicates before the exact anti-join — the
    * anti-join's shuffle then carries only the maybe-hits instead of the
    * whole batch. False positives are resolved exactly by the anti-join;
    * false negatives cannot occur, so semantics equal [[appendNew]].
    * At 100 TB this is the difference between shuffling a day's batch and
    * shuffling nothing when most rows are genuinely new.
    *
    * @param expectedItems sizing for the filter (existing table rows)
    * @param fpp           false-positive probability (shuffle overhead knob)
    */
  def appendNewWithBloom(newRows: DataFrame, existing: DataFrame,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bloom = existing.stat.bloomFilter("raw_event_hash_id",
      expectedItems, fpp)
    val spark = newRows.sparkSession
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val mightExist = udf((h: String) => bloomBc.value.mightContain(h))
    val definitelyNew = newRows.where(!mightExist(col("raw_event_hash_id")))
    val maybeDup = newRows.where(mightExist(col("raw_event_hash_id")))
    val confirmedNew = maybeDup.join(
      existing.select("raw_event_hash_id"),
      Seq("raw_event_hash_id"), "left_anti")
    definitelyNew.unionByName(confirmedNew)
  }

  /** Full MERGE semantics in one keyed pass (the warehouse MERGE INTO:
    * WHEN MATCHED [AND cond] UPDATE / DELETE, WHEN NOT MATCHED INSERT)
    * expressed as a single full-outer join — no mutable table required,
    * Delta-free. Matched rows take the source's columns unless
    * `deleteWhen` holds (then they drop); unmatched source rows insert;
    * unmatched target rows carry through. One shuffle on the key.
    *
    * Target and source must share a schema; `deleteWhen` is evaluated on
    * the source columns.
    *
    * PRECONDITION: source keys must be unique (the standard MERGE
    * cardinality rule) — a duplicated source key would fan out its
    * matched target row via the join instead of raising, silently
    * multiplying rows. Pass `enforceUniqueSourceKeys = true` to fail the
    * job on violation like a warehouse MERGE does: a per-key count rides
    * the same key partitioning the join needs (no extra shuffle pattern),
    * and a duplicate trips `raise_error` at execution. NULL source keys
    * are exempt — they never match, each is an independent insert.
    */
  def merge(target: DataFrame, source: DataFrame, keyCol: String,
      deleteWhen: Column,
      enforceUniqueSourceKeys: Boolean = false): DataFrame = {
    val cols = target.columns.toSeq
    require(source.columns.toSeq == cols,
      "merge expects identical target/source schemas")
    val sourceChecked = if (!enforceUniqueSourceKeys) source else {
      // the guard is threaded through the KEY column (always consumed by
      // the join) so column pruning can't optimize the check away
      val wk = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
      val keyType = source.schema(keyCol).dataType
      source
        .withColumn("_kc", count(lit(1)).over(wk))
        .withColumn(keyCol,
          when(col(keyCol).isNotNull && col("_kc") > 1,
            raise_error(concat(
              lit(s"merge: duplicate source key in '$keyCol': "),
              col(keyCol).cast("string"))).cast(keyType))
            .otherwise(col(keyCol)))
        .drop("_kc")
    }
    // explicit source-presence marker: testing the KEY column for null
    // would misclassify a legitimately-NULL-keyed source row as "absent"
    // (its insert would come out all-NULL); full_outer never matches
    // NULL keys, so such rows are inserts
    val t = target.select(cols.map(c => col(c).as(s"t_$c")): _*)
    val s = sourceChecked
      .withColumn("_del", coalesce(deleteWhen, lit(false)))
      .withColumn("_s_present", lit(true))
      .select(col("_del") +: col("_s_present") +:
        cols.map(c => col(c).as(s"s_$c")): _*)
    // === is null-rejecting: NULL keys never match (standard MERGE ON),
    // they fall through as inserts/carries via the presence markers
    t.join(s, col(s"t_$keyCol") === col(s"s_$keyCol"), "full_outer")
      // tombstones drop whether or not they matched (CDC apply: a delete
      // for an absent key is a no-op) — one filter covers both cases
      .where(!coalesce(col("_del"), lit(false)))
      // row-wise winner decided by source-side PRESENCE, not per-column
      // coalesce — a legitimately-NULL source column must not fall back
      // to the stale target value
      .select(cols.map(c =>
        when(coalesce(col("_s_present"), lit(false)), col(s"s_$c"))
          .otherwise(col(s"t_$c")).as(c)): _*)
  }

  /** Upsert: new rows win over existing on hash collision
    * (`ON CONFLICT (raw_event_hash_id) DO UPDATE`, `:347-365`). */
  def upsert(newRows: DataFrame, existing: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tagged = newRows.withColumn("_src", lit(1))
      .unionByName(existing.withColumn("_src", lit(0)))
    val w = Window.partitionBy("raw_event_hash_id")
      .orderBy(col("_src").desc)
    tagged.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_src", "_rn")
  }

  /** Apply a CDC changelog to a base table — the op-log rung of the
    * table-maintenance family ([[upsert]]: latest-wins without
    * deletes; [[merge]]: matched/unmatched actions; [[scd2]]: history
    * kept; this: replay an ordered INSERT/UPDATE/DELETE log,
    * last-writer-wins per key, deletes tombstone). Exactly what
    * applying a Debezium/binlog extract to a snapshot needs.
    *
    * `log` columns: keyCol, seqCol (total order per key — ties are the
    * caller's bug), opCol ∈ {'U','D'} (inserts are upserts), plus the
    * payload columns of `base`. Returns base ∖ touched-keys ∪ latest
    * non-delete log rows. Ops outside {'U','D'} (including NULL) fail
    * fast; base payload columns must not collide with seqCol/opCol
    * (the union would silently misalign).
    *
    * Scale shape: one key-partitioned WindowGroupLimit picks each
    * key's latest op (top-1 per key — bounded window state), one
    * LeftAnti keyed on the log's distinct keys removes superseded base
    * rows; both shuffles carry key-grain rows. */
  def applyChangelog(base: DataFrame, log: DataFrame, keyCol: String,
      seqCol: String, opCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!base.columns.contains(seqCol) && !base.columns.contains(opCol),
      s"applyChangelog: base columns must not collide with " +
        s"seqCol '$seqCol' / opCol '$opCol' — the final drop-then-union " +
        s"would silently drop the payload column")
    // fail fast in-plan on an op outside the contract (a NULL op would
    // otherwise filter out as a silent delete): per-log-row when(), so
    // the check codegens and costs nothing on the base side
    val checked = log.withColumn(opCol,
      when(col(opCol).isin("U", "D"), col(opCol)).otherwise(raise_error(
        concat(lit("applyChangelog: op must be 'U' or 'D', got "),
          coalesce(col(opCol), lit("NULL"))))))
    val latest = checked
      .withColumn("_rn", row_number().over(
        Window.partitionBy(keyCol).orderBy(col(seqCol).desc)))
      .where(col("_rn") === 1)
    val survivors = base.join(checked.select(keyCol).distinct(),
      Seq(keyCol), "left_anti")
    survivors.unionByName(
      latest.where(col(opCol) =!= "D")
        .drop("_rn", seqCol, opCol))
  }
}
