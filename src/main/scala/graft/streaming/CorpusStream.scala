package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.text.{Pii, TextAnalysis}

/** Streaming corpus curation — the x41 gate/redact stages applied to a
  * document STREAM: stateless PII redaction + quality/language/
  * repetition gates, then exact dedup keyed on the redacted-text
  * fingerprint with state bounded by the event-time watermark
  * (`dropDuplicatesWithinWatermark`). One definition serves both the
  * backfill and the live path — the same batch-vs-incremental split the
  * reference runs as separate full-reload and cutoff DAGs
  * (HW-3/airflow/dags/iot_temperature.py:44-46 vs
  * HW-4/airflow/dags/iot_temperature.py:98-118).
  *
  * Scale notes: the gates are per-row column expressions with NO state,
  * and they run BEFORE the dedup so junk never enters the state store;
  * dedup state holds one fingerprint per unique kept doc inside the
  * watermark horizon. Keeper semantics differ by mode and are part of
  * the contract: streaming keeps the FIRST ARRIVAL of a fingerprint
  * (state decides), batch keeps the lowest doc_id (deterministic
  * re-runs) — identical results whenever arrival order follows doc_id.
  */
object CorpusStream {

  def curate(docs: DataFrame, lateness: String = "1 hour",
             lang: String = "en"): DataFrame = {
    // STAGED projections, the same discipline as Curation.buildCorpus:
    // each non-cheap alias (redacted text → toks → grams) is
    // multi-referenced by the next stage, so CollapseProject's cost
    // guard keeps the stages and every expensive tree evaluates once
    // per row. The batch path gets its evaluate-once barrier from a
    // cache; a stream cannot cache, and filter pushdown through a
    // deterministic Project is UNCONDITIONAL (a Project is 1:1, so
    // Spark pushes even non-deterministic predicates, substituting
    // aliases with no cost guard) — the gate predicate comes back
    // inlined, one staged Project at a time, until the plan holds 98
    // copies of the 3-regex redaction chain (measured ~30s vs ~2s at
    // sf0.1). The barrier that holds is `observe`: a CollectMetrics
    // node between the staged Projects and the gate filter. Pushing a
    // predicate below CollectMetrics would change the observed metric
    // (rows counted before vs after the gate), so the optimizer is
    // CONTRACTUALLY barred from it — unlike the earlier rand()-column
    // trick, which merely exploited the current non-deterministic-
    // field pushdown guard. CurationPlanSpec pins the plan shape (one
    // redaction chain in the optimized plan), so an optimizer change
    // that re-inlines the gate fails a test instead of only a bench.
    val staged = docs
      .select(col("doc_id"), col("ts"),
        Pii.redactedCol(col("text")).as("text"))
      .select(col("doc_id"), col("ts"), col("text"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("ts"), col("text"), col("toks"),
        TextAnalysis.wordGramsFromToks(col("toks"), TextAnalysis.repetitionN).as("grams"))
      .select(col("doc_id"), col("ts"), col("text"),
        TextAnalysis.fingerprintCol(col("text")).as("fingerprint"),
        (TextAnalysis.qualityBucketFromToks(col("toks"), col("text")) === "ok" &&
          TextAnalysis.predLangFromToks(col("toks")) === lang &&
          !TextAnalysis.repetitiveFromGrams(col("grams"))).as("keep"))
    val clean = staged
      .observe("corpus_gate_barrier", count(lit(1)).as("n_staged"))
      .filter(col("keep"))
      .select("doc_id", "ts", "text", "fingerprint")
    if (clean.isStreaming)
      clean.withWatermark("ts", lateness)
        .dropDuplicatesWithinWatermark("fingerprint")
    else
      Dedup.keepFirst(clean, Seq("fingerprint"), Seq(col("doc_id").asc))
  }
}
