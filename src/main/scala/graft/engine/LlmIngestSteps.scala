package graft.engine

import org.apache.spark.sql.functions._

import graft.operators.{Packing, TextAnalysis}
import graft.sources.FooterSchema

/** The e02_llm_ingest packet's step callbacks: the flagship
  * training-data pipeline — TRAIN a tokenizer (batched BPE, the t23
  * contract) → persist it as an ARTIFACT (t24) → ENCODE the corpus to
  * token-id arrays (t22) → PACK the token stream into context windows
  * (p28) → order the corpus by the CURRICULUM interleave over real
  * token counts (p26) — composed as ordered engine steps through
  * PacketRunner, so it inherits the reference's execution contract:
  * per-action MD5 dedup against the tracker (a resumed run SKIPS
  * completed stages — training does not re-run because packing
  * crashed), typed error taxonomy, notices, and the atomic
  * manifest-publish of the final table.
  *
  * Each step is additionally idempotent BY CONSTRUCTION (overwrite
  * writes into placeholder-addressed artifact dirs), so the packet is
  * safe under both resume paths: tracker-skip (normal) and forced
  * re-execution (wipe).
  */
object LlmIngestSteps {

  private val Packet = "e02_llm_ingest"

  private def ph(ctx: StepContext, key: String): String =
    ctx.placeholders.getOrElse(key,
      sys.error(s"$Packet: missing placeholder $key"))

  /** Artifact dirs are overwritten in place: their schema is re-read. */
  private def load(ctx: StepContext, p: String) =
    ctx.spark.read.schema(FooterSchema.of(ctx.spark, Seq(p))).parquet(p)

  /** The ingest corpus: run_once's view when present, else the raw
    * documents table — a FRESH session resuming mid-packet never
    * re-executes run_once (tracker dedup), so steps must not depend on
    * its session-scoped view existing. */
  private def corpus(spark: org.apache.spark.sql.SparkSession) =
    if (spark.catalog.tableExists("e02_docs")) spark.table("e02_docs")
    else spark.table("documents")
      .select(col("doc_id"), col("source"), col("text"))

  /** Idempotent registration of all four python-step callbacks. */
  def ensureE02Steps(): Unit = {
    ScalaSteps.register(Packet, "01_step.py") { ctx =>
      val spark = ctx.spark
      import spark.implicits._
      val art = ph(ctx, "e02_art")
      val docs = corpus(spark).select(col("text"))
      val merges = TextAnalysis.bpeLearnMergesBatched(docs, "text",
        rounds = 4, batchR = 8, candK = 64)
      merges.zipWithIndex.map { case ((a, b), i) => (i + 1L, a, b) }
        .toDF("rank", "a", "b")
        .repartition(1)
        .write.mode("overwrite").parquet(art)
      ctx.notice("info",
        s"e02: trained ${merges.size}-merge tokenizer -> $art")
    }

    ScalaSteps.register(Packet, "02_step.py") { ctx =>
      val spark = ctx.spark
      import spark.implicits._
      val art = ph(ctx, "e02_art")
      val enc = ph(ctx, "e02_enc")
      // the tokenizer comes BACK FROM THE ARTIFACT (rank order), not
      // from the trainer's in-memory state — a fresh engine resuming at
      // this step encodes identically
      val merges = load(ctx, art).orderBy(col("rank"))
        .select(col("a"), col("b")).as[(String, String)].collect().toSeq
      TextAnalysis.bpeEncodeIds(corpus(spark),
          "doc_id", "text", merges)
        .repartitionByRange(col("doc_id"))
        .write.mode("overwrite").parquet(enc)
      ctx.notice("info", s"e02: encoded corpus with ${merges.size} " +
        s"merges -> $enc")
    }

    ScalaSteps.register(Packet, "03_step.py") { ctx =>
      val spark = ctx.spark
      val enc = ph(ctx, "e02_enc")
      val pack = ph(ctx, "e02_pack")
      val counts = load(ctx, enc)
        .select(col("doc_id").cast("long").as("id"),
          size(col("token_ids")).cast("long").as("n_tokens"))
      Packing.sequenceChunksFromCounts(counts, "doc_id", window = 512)
        .write.mode("overwrite").parquet(pack)
      ctx.notice("info", s"e02: packed token stream (window 512) -> $pack")
    }

    ScalaSteps.register(Packet, "04_step.py") { ctx =>
      val spark = ctx.spark
      import spark.implicits._
      val enc = ph(ctx, "e02_enc")
      val pack = ph(ctx, "e02_pack")
      val pub = ph(ctx, "e02_pub")
      val counted = corpus(spark)
        .select(col("doc_id"), col("source"))
        .join(load(ctx, enc)
          .select(col("doc_id"),
            size(col("token_ids")).cast("long").as("n_toks")),
          "doc_id")
      val cur = TextAnalysis.curriculumInterleaveFromCounts(
        counted, "doc_id", "source")
      val packed = load(ctx, pack)
        .select(col("doc_id"), col("n_tokens"), col("chunk_first"))
      val fin = cur.join(packed, "doc_id")
        .select(col("pos"), col("doc_id"), col("source"),
          col("n_tokens"), col("chunk_first"))
      // final table publishes ATOMICALLY through the manifest (version
      // write -> one pointer swap), then one view re-point
      val dataDir = ManifestTable.publish(spark, pub, fin)
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW `e02_corpus` AS " +
        s"SELECT * FROM parquet.`$dataDir`")
      ctx.notice("info", s"e02: published curriculum corpus -> $dataDir")
    }
  }
}
