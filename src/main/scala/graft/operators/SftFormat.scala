package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SFT (instruction-tuning) chat-template rendering with loss-mask
  * spans: turn a (user, assistant)* conversation into ONE training
  * string plus the character offsets of the assistant spans — the
  * loss mask every SFT trainer needs (loss is computed only on
  * assistant tokens; rendering and masking must come from the same
  * arithmetic or they drift, which is exactly the bug class this
  * operator exists to prevent).
  *
  * Template: `<|user|> U <|assistant|> A` repeated per exchange, single
  * spaces between role markers and contents (empty contents keep their
  * surrounding spaces so offset arithmetic never branches).
  *
  * The demo query derives a deterministic 2-exchange conversation from
  * each document (token quarters: U1 A1 U2 A2) because the test corpus
  * has no conversation table; the OPERATOR takes arbitrary turn
  * columns. Offsets are 1-based (substr convention) and satisfy the
  * spec-pinned invariant
  * `substr(train_text, start_off, span_len) == span_text`.
  *
  * Plan shape: pure column expressions — one narrow codegen projection
  * + a 2-row posexplode per doc; zero shuffles, no UDF; every length
  * is computed from the SAME concat tree that builds the render, so
  * the SQL oracle replays offsets exactly.
  */
object SftFormat {

  /** Render an ARBITRARY-length conversation per row from an
    * array<struct<role: string, content: string>> column (real SFT
    * corpora are variable-length — the two-turn entry point below is
    * now a special case of this). Template per turn: `<|role|> content`,
    * turns joined by single spaces; empty contents keep their
    * surrounding spaces so the offset arithmetic never branches.
    * A null role or content FAILS THE JOB in-plan (the merge /
    * applyChangelog raise_error convention): a null would null the
    * whole concat on one engine and be skipped by concat_ws on
    * another — i.e. the render and the offsets would silently
    * disagree across engines, the exact drift this operator exists
    * to prevent, so it is a data error, not a renderable state.
    *
    * Returns one row per ASSISTANT turn:
    * (idCol, train_text, turn, turn_pos, start_off, span_len,
    * span_text) — `turn` is the 1-based ordinal among assistant spans
    * (the loss-mask index), `turn_pos` the 1-based position in the
    * conversation. Conversations with no assistant turn (e.g. a
    * single user message) contribute zero rows. Offsets are 1-based
    * (substr convention) and satisfy the spec-pinned invariant
    * `substr(train_text, start_off, span_len) == span_text`.
    *
    * Plan shape: pure column expressions — one codegen projection +
    * one posexplode; zero shuffles, no UDF. The per-turn prefix length
    * is an `aggregate` fold over the preceding turns (O(n²) in turns
    * per row, with n = conversation length, corpus-independent), and
    * every length comes from the SAME arithmetic that sizes the
    * rendered elements, so the SQL oracle replays offsets exactly. */
  def renderConversation(df: DataFrame, idCol: String,
      turnsCol: Column): DataFrame = {
    // The null fail-fast rides the spans transform's role field — the
    // pass the projection ALREADY pays — instead of a separate filter
    // scan. Why this is both safe and free:
    //  * safe: the spans array is the GENERATOR argument, and Generate
    //    must evaluate its generator per INPUT row to know how many
    //    rows to emit — unlike the child-output columns (train_text),
    //    whose projection whole-stage codegen defers into the
    //    per-OUTPUT-row consume. So a corrupt conversation cannot
    //    dodge the check by emitting zero spans (SftFormatSpec's
    //    red case), and transform materializes every struct field of
    //    every element, while filter()'s assistant predicate forces
    //    the array — the check runs for ALL turns, not just emitted
    //    ones.
    //  * free: the r13 form — a filter doing when(exists(turns, …),
    //    raise).otherwise(size(turns) > 0) — referenced the turns
    //    array twice, and because filter predicates are pushed below
    //    the projection that names the array, EACH reference re-ran
    //    the whole turns construction per input row: measured +126%
    //    on q_sft_render / +42% on q_sft_render_n (r14 A/B). Fused
    //    into the role field the guard measures ~0% on both — the
    //    filter below reverts to the plain size(turns) > 0 (constant-folded away entirely on
    //    literal-length conversations like the two-turn path).
    def checkedRole(t: Column): Column =
      when(t("role").isNull || t("content").isNull,
        raise_error(concat(
          lit("renderConversation: null role/content in conversation "),
          coalesce(col(idCol).cast("string"), lit("null"))))
          .cast("string"))
        .otherwise(t("role"))
    // element i renders as "<|" + role + "|> " + content: the content
    // starts len(role) + 5 characters into the element
    val render = concat_ws(" ",
      transform(turnsCol,
        t => concat(lit("<|"), t("role"), lit("|> "), t("content"))))
    val spans = transform(
      sequence(lit(0), size(turnsCol) - 1),
      i => {
        val t = element_at(turnsCol, i + 1)
        // chars before element i: each prior element's length plus its
        // one joining space
        val prefix = aggregate(slice(turnsCol, lit(1), i), lit(0),
          (acc, u) => acc + length(u("role")) + length(u("content"))
            + lit(6))
        struct(
          (i + 1).as("turn_pos"),
          checkedRole(t).as("role"),
          (prefix + length(t("role")) + lit(6)).as("start_off"),
          length(t("content")).as("span_len"),
          t("content").as("span_text"))
      })
    // empty conversations contribute zero rows by the same mechanism
    // as assistant-free ones — and MUST be filtered before the span
    // transform: sequence(0, size-1) at size 0 is [0, -1] (Spark
    // steps DOWN when start > stop), whose lambda would evaluate
    // element_at(turns, 0) and a negative-length slice, both runtime
    // errors. The null-turn fail-fast does NOT live in this filter
    // (it rides the spans transform — see checkedRole above); the
    // predicate is the plain size check, constant-folded away when
    // the conversation length is statically known (the two-turn path).
    df.where(size(turnsCol) > 0)
      .select(col(idCol), render.as("train_text"),
        posexplode(filter(spans, s => s("role") === "assistant"))
          .as(Seq("_i", "span")))
      .select(col(idCol), col("train_text"),
        (col("_i") + 1).as("turn"),
        col("span.turn_pos").as("turn_pos"),
        col("span.start_off"), col("span.span_len"), col("span.span_text"))
  }

  /** Render one 2-exchange conversation per row from four turn
    * columns — [[renderConversation]] over the 4-element turns array,
    * with the legacy output shape (no turn_pos; `turn` = assistant
    * span ordinal 1..2). Returns one row per ASSISTANT span:
    * (idCol, train_text, turn, start_off, span_len, span_text). */
  def renderTwoTurn(df: DataFrame, idCol: String,
      u1: Column, a1: Column, u2: Column, a2: Column): DataFrame =
    renderConversation(
      df.withColumn("_turns", array(
        struct(lit("user").as("role"), u1.as("content")),
        struct(lit("assistant").as("role"), a1.as("content")),
        struct(lit("user").as("role"), u2.as("content")),
        struct(lit("assistant").as("role"), a2.as("content")))),
      idCol, col("_turns"))
      .select(col(idCol), col("train_text"), col("turn"),
        col("start_off"), col("span_len"), col("span_text"))

  /** Token-quarter conversation derivation for corpora without a turn
    * structure (the demo/gate path): quarters of the whitespace token
    * stream become U1 A1 U2 A2. */
  def quartersFromText(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = filter(split(trim(col(textCol)), "\\s+"), t => length(t) > 0)
    val q = size(toks)
    def bound(k: Int): Column =
      floor(q.cast("double") * k / 4.0).cast("int")
    def seg(from: Column, until: Column): Column =
      concat_ws(" ", slice(toks, from + 1, until - from))
    docs.where(col(textCol).isNotNull)
      .select(col(idCol),
        seg(lit(0), bound(1)).as("u1"),
        seg(bound(1), bound(2)).as("a1"),
        seg(bound(2), bound(3)).as("u2"),
        seg(bound(3), q).as("a2"))
  }
}
