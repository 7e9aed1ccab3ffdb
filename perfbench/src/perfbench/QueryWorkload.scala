package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkEntry

/** The `llm` workload: one driver thread runs declared queries
  * one at a time (closed loop, one client) over tables generated by
  * [[TableGen]], in an order shuffled from the seed. One op is the
  * constructor call, planning, and execution of the returned plan; the
  * execution computes the result digest that the op is checked against.
  *
  * There is no warm-up pass: like a batch job, each run starts a fresh JVM,
  * so the timed pass pays class loading, code generation and JIT once per
  * op, in a seed-dependent order.
  */
object QueryWorkload {

  /** LLM-pipeline queries: the heaviest constructors, the heaviest
    * executors, and the open ROADMAP targets. */
  val Llm: Seq[String] = Seq(
    "q158_store_compact", "q102_ann_2level_trained", "q79_neardup_keep",
    "q96_leakage_safe_split", "q41_neardup_clusters", "q159_resume_locate",
    "q139_pack_forget", "q141_pack_repair", "q148_tokenizer_fertility_ab",
    "q25_minhash_lsh",
    "q60_decontaminate_skew", "q78_bm25_topk", "q91_hybrid_rrf", "q75_scrub_spans",
    "q115_line_dedup", "q106_domain_cap", "q126_bpe_encode", "q147_unigram_encode",
    "q90_pii_redact", "q22_ngram_jaccard", "q35_embedding_neardup",
    "q61_semdedup", "q70_semdedup_2level", "q103_dsir_rate_mix", "q105_dsir_token_mix",
    "q111_density_prune")

  /** The curation funnel with every stage on, as `graft.Bench` builds its
    * `funnel_full` sidecar. */
  val Funnel = "funnel_full"

  /** Run once in set-up, outside the timed pass. */
  private val FirstUse = "q02_filter_project"

  /** One pass on a 4-core host, in seconds; sets how many passes fill
    * `--seconds`. */
  private val NominalPassS = 50.0

  val ops: Seq[String] = Llm :+ Funnel

  private final class FunnelInputs(val docs: DataFrame, val eval: DataFrame,
                                   val weights: IndexedSeq[Long])

  /** Runs the workload over the tables in `data`, which `TableGen` wrote
    * before the JVM started. */
  def run(ctx: Ctx, data: String): Outcome = {
    val spark = ctx.spark
    val funnel = ctx.tracer.span("setup/funnel-inputs")(prepareFunnel(ctx, data))
    // one cheap query through the timed code path, so no op in the timed
    // pass pays the session's first-use costs for whichever op comes first
    ctx.tracer.span("setup/first-use") {
      val df = SparkEntry.queries(FirstUse)(spark, data)
      Digest.of(df.queryExecution.executedPlan, ordered = true)
      spark.catalog.clearCache()
    }

    def one(name: String): OpResult =
      try {
        if (name == Funnel) funnelOp(ctx, funnel)
        else queryOp(ctx, data, name)
      } finally spark.catalog.clearCache()

    val rnd = new scala.util.Random(ctx.seed)
    val passes = math.max(1, math.round(ctx.seconds / NominalPassS).toInt)
    val t0 = System.nanoTime()
    (1 to passes).foreach(_ => rnd.shuffle(ops).foreach(one))
    val wall = (System.nanoTime() - t0) / 1e9
    Outcome(ctx.ops, wall, Nil, Nil)
  }

  def queryOp(ctx: Ctx, data: String, name: String): OpResult = {
    val fn = SparkEntry.queries(name)
    val ordered = ctx.expected.ordered(name)
    ctx.timed("query", name) {
      val df = ctx.tracer.span("queries.build")(fn(ctx.spark, data))
      val plan = ctx.tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
      ctx.tracer.span("exec.exec")(Digest.of(plan, ordered))
    } { d => ctx.expected.check(name, d.asInstanceOf[Digest]) }
  }

  private def prepareFunnel(ctx: Ctx, data: String): FunnelInputs = {
    val docs = graft.Tables.documents(ctx.spark, data).localCheckpoint(true)
    val eval = docs.filter(col("doc_id") % 97 === 0)
    val weights = graft.operators.Classify.perceptronWeights(
      docs, "doc_id", "text", positive = col("lang") === "en",
      buckets = 128, ngram = 1, epochs = 2, maxPerClass = 64)
    new FunnelInputs(docs, eval, weights)
  }

  private def curate(f: FunnelInputs) =
    graft.pipeline.Curation.curate(f.docs, f.eval,
      urlBlocklist = Seq("blocked.example"),
      maxLinkDensityMilli = Some(900),
      classifierWeights = Some(f.weights),
      classifierMinPerFeatPpm = -1000000L,
      piiRedact = true,
      boilerplateSpan = Some(8), boilerplateLineReps = Some(3),
      domainCap = Some(50),
      dsirTarget = Some(f.eval), dsirBudget = 200000L,
      packBudget = 512)

  private def runFunnel(ctx: Ctx, f: FunnelInputs): Digest = {
    val (out, report) = ctx.tracer.span("pipeline.curate")(curate(f))
    val d = ctx.tracer.span("pipeline.exec") {
      Digest.of(out.queryExecution.executedPlan, ordered = false)
    }
    // the per-stage report is part of the output that is checked
    Digest(d.rows, d.hash * 31L + report.toString.hashCode.toLong)
  }

  /** Digest of one funnel run, for recording `expected.tsv`. */
  def funnelDigest(ctx: Ctx, data: String): Digest = runFunnel(ctx, prepareFunnel(ctx, data))

  private def funnelOp(ctx: Ctx, f: FunnelInputs): OpResult =
    ctx.timed("funnel", Funnel)(runFunnel(ctx, f)) { d =>
      ctx.expected.check(Funnel, d.asInstanceOf[Digest])
    }
}
