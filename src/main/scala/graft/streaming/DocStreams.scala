package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.similarity.Similarity
import graft.text.TextFunctions

/** Structured-Streaming twins of the document-curation operators —
  * the "same pipeline, arriving continuously" side of the batch
  * queries in operators/CorpusQueries.
  */
object DocStreams {

  /** Streaming bigram-LM fluency scoring against a batch-trained
    * model — the stream/batch twin of CorpusQueries.textLmScore's
    * scoring phase. Documents arrive on a stream with an event-time
    * column; the model (g, bp) — trained offline by
    * CorpusQueries.trainLmHead (minCount = 1 is the full model the
    * batch query scores under), refreshed on whatever cadence the
    * pipeline retrains — joins as a STATIC side; per-doc scores
    * aggregate under an event-time window + watermark so streaming
    * state is bounded by in-flight windows, never the stream's
    * history. Append mode: a document's score emits exactly once,
    * when its window expires under the watermark — composable with
    * the idempotent sink for end-to-end exactly-once.
    *
    * Bigrams absent from the model score 0 basis points — the
    * natural floor of the smoothing-free conditional-frequency model
    * (a batch-scored corpus never hits this case because the model is
    * trained on the corpus itself; a stream scoring NEW documents
    * against yesterday's model does, and 0 is the honest "never seen"
    * answer). Twin equality with the batch query on a shared corpus
    * is spec-pinned (StreamingSpec).
    *
    * Plan: the map-side explode and the scalar-only exchanges mirror
    * the batch plan; the stream side shuffles (doc_id, ts, g) rows to
    * the model join and the windowed aggregate carries only counters
    * per (window, doc) key.
    */
  def lmScoreStream(
      docs: DataFrame, model: DataFrame,
      watermark: String = "10 minutes",
      windowLen: String = "1 minute"): DataFrame = {
    val grams = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        explode(Similarity.wordNgramsAll(
          TextFunctions.wsTokens(col("text")), 2)).as("g"))
    grams
      .join(model.select(col("g"), col("bp")), Seq("g"), "left")
      .groupBy(window(col("ts"), windowLen), col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("bp"), lit(0L))).as("sum_bp"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_bp"),
        floor(col("sum_bp") / col("n_bigrams")).cast("long").as("avg_bp"))
  }
}
