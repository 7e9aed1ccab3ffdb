package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training-data pipelines: assign documents to
  * fixed-token-budget packs (the pretraining batch-construction step that
  * concatenates documents up to a context length).
  *
  * Semantics: CONTIGUOUS CUMULATIVE packing — within each partition key,
  * documents are taken in `orderCol` order and document d goes to pack
  * `exclusive_prefix_sum(weight) div budget` (exact integer division — no
  * double rounding even past 2^53 cumulative weight). This is one-pass and
  * exactly expressible in ANSI SQL (window cumulative sum), which makes it
  * oracle-checkable; it is NOT best-fit bin packing — a document may
  * straddle a budget boundary, in which case its pack overflows the budget
  * rather than splitting the document (the common "greedy concat then
  * truncate at consumer" policy).
  *
  * Determinism contract: `orderCol` must be a TOTAL order within each
  * partition key (a unique id) and weights non-negative (`div` truncates
  * toward zero, which equals floor only for non-negative prefixes). With
  * tied order keys the ROWS-frame prefix sum still packs one row at a
  * time, but WHICH tied row lands in the earlier pack follows Spark's
  * arbitrary tie order — assignment is then deterministic only up to ties
  * (and an oracle on tied keys with unequal weights can diverge).
  *
  * Scale: one window shuffle on the partition columns; the per-partition
  * scan is inherently sequential (each pack depends on every prior
  * weight), so parallelism comes from the partition key — exactly how a
  * production packer shards (by source/shard), never globally.
  */
object Packing {

  /** Adds `pack_id` to `df`. */
  def packByBudget(df: DataFrame, orderCol: String, weightCol: String,
                   partCols: Seq[String], budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    // the exact `div` below requires an integral weight: a double weight
    // would silently coerce (and its prefix sums round past 2^53) — fail
    // at call time instead
    val wt = df.schema(weightCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(wt),
      s"weightCol '$weightCol' must be an integral type for exact pack " +
        s"division, got $wt — pre-quantize fractional weights to token counts")
    // temp column that cannot shadow caller data
    val cum = Iterator.from(0)
      .map(i => if (i == 0) "_cum" else s"_cum$i")
      .find(n => !df.columns.contains(n)).get
    // ROWS frame, not the default RANGE: RANGE includes ORDER-BY peers, so
    // tied orderCol values would all see the same cumulative sum and land
    // in the same (wrong) pack — the sequential semantics need one row at
    // a time, exactly the oracle's ROWS BETWEEN UNBOUNDED PRECEDING
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // backtick-quoted identifiers (with embedded backticks doubled), so
    // names needing quoting parse instead of failing at analysis
    def q(name: String) = "`" + name.replace("`", "``") + "`"
    df.withColumn(cum, sum(col(weightCol).cast("long")).over(w))
      .withColumn("pack_id",
        expr(s"(${q(cum)} - cast(${q(weightCol)} as bigint)) div ${budget}L"))
      .drop(cum)
  }

  /** Concat-and-chunk index — the OTHER batch-construction policy: all
    * documents in a shard are conceptually concatenated in `orderCol`
    * order and the token stream is cut into fixed `chunkTokens` windows
    * that CROSS document boundaries (the GPT-style "pack everything, let
    * sequences straddle" loader, vs [[packByBudget]]'s never-split-a-doc
    * policy). No tokens are materialized: the output is the INDEX a
    * loader needs — each document's [start_off, end_off) token span and
    * the first/last chunk it touches.
    *
    * Output: `df`'s columns + (start_off, end_off, first_chunk,
    * last_chunk, n_chunks). Zero-weight rows occupy no tokens: their
    * first/last chunk are NULL and n_chunks 0. Same determinism contract
    * and exact-integer division as [[packByBudget]]; same scale shape —
    * one window shuffle on the shard key, O(1) running state per
    * partition. */
  def concatChunkIndex(df: DataFrame, orderCol: String, weightCol: String,
                       partCols: Seq[String], chunkTokens: Long): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    val wt = df.schema(weightCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(wt),
      s"weightCol '$weightCol' must be an integral type for exact chunk " +
        s"division, got $wt — pre-quantize fractional weights to token counts")
    val outCols = Seq("start_off", "end_off", "first_chunk", "last_chunk",
      "n_chunks")
    val clash = df.columns.filter(outCols.contains)
    require(clash.isEmpty,
      s"input already has output column(s) ${clash.mkString(", ")} — rename " +
        "them before chunk indexing")
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("end_off", sum(col(weightCol).cast("long")).over(w))
      .withColumn("start_off",
        col("end_off") - col(weightCol).cast("long"))
      .withColumn("first_chunk",
        when(col(weightCol) > 0, expr(s"start_off div ${chunkTokens}L")))
      .withColumn("last_chunk",
        when(col(weightCol) > 0, expr(s"(end_off - 1) div ${chunkTokens}L")))
      .withColumn("n_chunks",
        coalesce(col("last_chunk") - col("first_chunk") + 1, lit(0L)))
      .select((df.columns.map(col) ++ outCols.map(col)).toIndexedSeq: _*)
  }

  /** Bounded-cardinality ceiling for [[packGlobalByBudget]]'s driver-side
    * shard-prefix table — a fail-loud guard, not a tuning knob: a million
    * shards of offsets is a 16 MB driver artifact; past that the caller's
    * shard column is not a shard column. */
  val MaxGlobalShards: Int = 1 << 20

  /** GLOBAL contiguous packing over a SHARDED total order — the training-
    * file writer's plan: documents ordered by `(shardCol, orderCol)` across
    * the WHOLE corpus are cut into fixed-`budget` packs whose ids run
    * globally (a pack may straddle a shard boundary; no shard ends with an
    * underfull pack the way per-partition packing forces). Composed with
    * [[Mixing.epochShuffle]]'s (shard, pos) this yields token-balanced
    * training files over one global permutation.
    *
    * Same contiguous-cumulative semantics as [[packByBudget]] — pack =
    * `exclusive_global_prefix_sum(weight) div budget`, exact integer
    * arithmetic, oversize documents overflow rather than split — but the
    * prefix sum is GLOBAL, equal to one window over `ORDER BY (shard,
    * order)` without paying a single-partition sort: pass 1 aggregates one
    * bounded subtotal per shard (≤ [[MaxGlobalShards]], fail-loud) and
    * prefixes them on the driver; pass 2 broadcast-joins the offsets back
    * and runs the per-shard cumulative window. One shard-keyed exchange
    * total, O(nShards) driver state — the standard two-pass parallel
    * prefix sum.
    *
    * Determinism contract as [[packByBudget]] (orderCol a total order
    * WITHIN each shard, non-negative integral weights); `shardCol` must be
    * integral. Output: `df`'s columns + `pack_id`. */
  def packGlobalByBudget(df: DataFrame, shardCol: String, orderCol: String,
                         weightCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(!df.columns.contains("pack_id"),
      "input already has pack_id — rename it before packing")
    val (cum, withCum) = withGlobalCum(df, shardCol, orderCol, weightCol)
    def q(name: String) = "`" + name.replace("`", "``") + "`"
    withCum
      .withColumn("pack_id",
        expr(s"(${q(cum)} - cast(${q(weightCol)} as bigint)) div ${budget}L"))
      .drop(cum)
  }

  /** [[concatChunkIndex]] with GLOBAL offsets over a sharded total order —
    * the GPT-style concat-everything loader's index when the corpus is one
    * global permutation in (shard, order) files: token offsets and chunk
    * ids run across shard boundaries (a chunk may straddle two shard
    * files), via the same two-pass prefix sum as [[packGlobalByBudget]].
    * Same output contract as [[concatChunkIndex]]. */
  def concatChunkIndexGlobal(df: DataFrame, shardCol: String,
                             orderCol: String, weightCol: String,
                             chunkTokens: Long): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    val outCols = Seq("start_off", "end_off", "first_chunk", "last_chunk",
      "n_chunks")
    val clash = df.columns.filter(outCols.contains)
    require(clash.isEmpty,
      s"input already has output column(s) ${clash.mkString(", ")} — rename " +
        "them before chunk indexing")
    val (cum, withCum) = withGlobalCum(df, shardCol, orderCol, weightCol)
    withCum
      .withColumn("end_off", col(cum))
      .withColumn("start_off",
        col("end_off") - col(weightCol).cast("long"))
      .withColumn("first_chunk",
        when(col(weightCol) > 0, expr(s"start_off div ${chunkTokens}L")))
      .withColumn("last_chunk",
        when(col(weightCol) > 0, expr(s"(end_off - 1) div ${chunkTokens}L")))
      .withColumn("n_chunks",
        coalesce(col("last_chunk") - col("first_chunk") + 1, lit(0L)))
      .select((df.columns.map(col) ++ outCols.map(col)).toIndexedSeq: _*)
  }

  /** The shared two-pass GLOBAL prefix sum: returns the fresh cumulative
    * column's name and `df` with that column = inclusive global prefix sum
    * of `weightCol` under the (shardCol, orderCol) total order. Pass 1
    * aggregates one bounded subtotal per shard (≤ [[MaxGlobalShards]],
    * fail-loud; NULL shards loud) and prefixes them on the driver; pass 2
    * broadcast-joins the offsets and runs the per-shard cumulative window
    * — one shard-keyed exchange, the window reuses its partitioning. */
  private def withGlobalCum(df: DataFrame, shardCol: String,
                            orderCol: String,
                            weightCol: String): (String, DataFrame) = {
    for ((c, what) <- Seq(shardCol -> "shardCol", weightCol -> "weightCol")) {
      val t = df.schema(c).dataType
      require(Seq(org.apache.spark.sql.types.ByteType,
          org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.LongType).contains(t),
        s"$what '$c' must be an integral type, got $t")
    }
    // pass 1: one bounded row per shard, prefixed on the driver
    val totals = df.groupBy(col(shardCol).cast("long").as("_shard"))
      .agg(sum(col(weightCol).cast("long")).as("_w"))
      .head(MaxGlobalShards + 1)
    require(totals.length <= MaxGlobalShards,
      s"more than $MaxGlobalShards distinct '$shardCol' values — that is " +
        "not a shard column; pre-bucket it or raise a real shard key")
    require(totals.forall(!_.isNullAt(0)),
      s"'$shardCol' contains NULLs — every row needs a shard")
    var acc = 0L
    val offRows = totals.map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
      .map { case (s, w) => val row = (s, acc); acc += w; row }
    val spark = df.sparkSession
    import spark.implicits._
    // fresh internal names — a caller column literally named _shard or
    // _off must not make the offset join ambiguous
    def fresh(base: String): String = Iterator.from(0)
      .map(i => if (i == 0) base else s"$base$i")
      .find(n => !df.columns.contains(n)).get
    val shardN = fresh("_shard")
    val offN = fresh("_off")
    val offDf = broadcast(offRows.toSeq.toDF(shardN, offN))
    // pass 2: per-shard cumulative window + the broadcast prefix
    val cum = fresh("_cum")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = df.join(offDf, col(shardCol).cast("long") === col(shardN))
      .drop(shardN)
      .withColumn(cum,
        col(offN) + sum(col(weightCol).cast("long")).over(w))
      .drop(offN)
    (cum, out)
  }

  /** PER-PACK CONCATENATED TOKEN STREAMS — the tensor-shaped artifact a
    * dataloader actually reads, not just the pack ASSIGNMENT: documents
    * are packed by [[packGlobalByBudget]]'s global contiguous policy
    * (weight = |ids| + 1, counting each document's trailing separator),
    * then every pack materializes ONE row whose `token_ids` is the
    * in-order concatenation of its member documents' ids, each followed
    * by `sepId` (the EOS/document-separator id — by convention one past
    * the vocabulary, the slot a trainer's embedding table appends; it
    * must not collide with a real id).
    *
    * Output: (pack_id, token_ids, n_docs, n_tokens, doc_offsets[,
    * doc_ids]), n_tokens = |token_ids| including separators.
    * `doc_offsets` is each member document's START offset within
    * `token_ids` (in concatenation order) — the attention-mask /
    * sample-boundary artifact a trainer otherwise re-derives by
    * scanning for separators; member k spans
    * `[doc_offsets[k], doc_offsets[k+1])` including its trailing
    * separator (the last member ends at n_tokens). `docIdCol`
    * additionally emits `doc_ids`, the member ids position-aligned
    * with `doc_offsets` (long-castable, the dedup-family contract).
    * Determinism: `(shardCol, orderCol)` must be a global total order
    * (the [[packGlobalByBudget]] contract) — it orders the packing
    * prefix sum, the concatenation, and the offsets alike.
    *
    * Scale shape: the ids cross exactly TWO exchanges — the shard-keyed
    * window (reused by the join) and the pack groupBy — which is the
    * irreducible cost of writing training files (the artifact IS the
    * token stream); each output row is ~budget ids (an oversize
    * document overflows its pack rather than splitting, same as the
    * assignment operator), so per-row memory is bounded by budget +
    * max-document, never by corpus; the offsets fold (one running sum
    * over the already-collected member list) adds no exchange. */
  def packTokenStreams(encoded: DataFrame, shardCol: String,
                       orderCol: String, idsCol: String, budget: Long,
                       sepId: Long,
                       docIdCol: Option[String] = None): DataFrame = {
    val wCol = Iterator.from(0)
      .map(i => if (i == 0) "_w" else s"_w$i")
      .find(n => !encoded.columns.contains(n)).get
    val weighted = encoded.withColumn(wCol,
      (coalesce(size(col(idsCol)), lit(0)) + 1).cast("long"))
    val packed = packGlobalByBudget(weighted, shardCol, orderCol, wCol,
      budget)
    val memberStruct = struct(Seq(
      col(shardCol).as("s"),
      col(orderCol).as("o"),
      concat(coalesce(col(idsCol), array().cast("array<long>")),
        array(lit(sepId))).as("t")) ++
      docIdCol.map(c => col(c).cast("long").as("d")): _*)
    val members = array_sort(collect_list(memberStruct))
    // exclusive prefix sum of member lengths — a linear fold over the
    // collected list, no extra exchange
    def offsets(ms: Column): Column = aggregate(
      ms,
      struct(array().cast("array<long>").as("offs"), lit(0L).as("cum")),
      (acc, x) => struct(
        concat(acc.getField("offs"), array(acc.getField("cum"))).as("offs"),
        (acc.getField("cum") + size(x.getField("t")).cast("long"))
          .as("cum")),
      acc => acc.getField("offs"))
    val aggCols = Seq(
      flatten(transform(members, x => x.getField("t"))).as("token_ids"),
      count(lit(1)).as("n_docs"),
      sum(col(wCol)).as("n_tokens"),
      offsets(members).as("doc_offsets")) ++
      docIdCol.map(_ =>
        transform(members, x => x.getField("d")).as("doc_ids"))
    val outCols = Seq("pack_id", "token_ids", "n_docs", "n_tokens",
      "doc_offsets") ++ docIdCol.map(_ => "doc_ids")
    packed
      .groupBy(col("pack_id"))
      .agg(aggCols.head, aggCols.tail: _*)
      .select(outCols.map(col): _*)
  }

  /** Row ceiling per shard for [[packBestFit]] — the whole shard is
    * buffered (BFD is inherently sequential over its shard), so the
    * shard column must be a real sharding: fail loud past this, never
    * spill-or-crash silently. 2²² rows ≈ a few hundred MB of (id,
    * weight) state per task. */
  val MaxBestFitShardRows: Int = 1 << 22

  /** BEST-FIT-DECREASING pack assignment — the PADDING-efficiency
    * policy: where [[packByBudget]] concatenates in stream order (one
    * window, oracle-cheap, but a long document straddling a boundary
    * leaves the pack underfull and the trainer pads the gap), BFD sorts
    * each shard's documents by weight DESC (ties: id ASC) and places
    * each into the fullest open pack that still fits (ties: lowest
    * pack id), opening pack `n_open` when none fits — the classic
    * offline bin-packing heuristic (≤ 11/9·OPT + 4 bins), typically
    * recovering most of the contiguous policy's padding waste.
    * Oversize documents (weight > budget) open their own pack and
    * never receive a second document (nothing fits beside them).
    *
    * Determinism: total within-shard order (weight DESC, id ASC) and a
    * total bin-choice order — the assignment is a pure function of the
    * shard's (id, weight) multiset, replayed step by step by the q133
    * oracle's recursive CTE.
    *
    * Scale shape: one exchange on the shard key, then each shard packs
    * INSIDE one task (a TreeMap of open-pack residuals, O(n log n)) —
    * BFD needs the whole shard's state, so the shard is the
    * parallelism unit exactly like a production file writer; rows per
    * shard are capped loud at [[MaxBestFitShardRows]]. Pack ids are
    * LOCAL to the shard (a training file is a (shard, pack) pair) —
    * globalize by prefixing the shard id if needed.
    *
    * Output: (shardCol, idCol, weightCol, pack_id). */
  def packBestFit(df: DataFrame, shardCol: String, idCol: String,
                  weightCol: String, budget: Long,
                  maxShardRows: Int = MaxBestFitShardRows): DataFrame = {
    require(budget > 0, "budget must be positive")
    for ((c, what) <- Seq(shardCol -> "shardCol", idCol -> "idCol",
        weightCol -> "weightCol")) {
      val t = df.schema(c).dataType
      require(Seq(org.apache.spark.sql.types.ByteType,
          org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.LongType).contains(t),
        s"$what '$c' must be an integral type, got $t")
    }
    val spark = df.sparkSession
    import spark.implicits._
    val out = df
      .select(col(shardCol).cast("long"), col(idCol).cast("long"),
        col(weightCol).cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (shard, it) =>
        val rows = it.map(r => (r._2, r._3)).toArray
        require(rows.length <= maxShardRows,
          s"shard $shard holds ${rows.length} rows — past the " +
            s"$maxShardRows best-fit buffer ceiling; use more shards")
        // a negative weight would DECREASE a pack's used() and re-place
        // it under a residual exceeding budget — silently over-budget
        // bin states; fail loud per shard (the row-ceiling policy)
        rows.foreach { case (id, w) =>
          require(w >= 0L,
            s"shard $shard document $id has negative weight $w — " +
              "best-fit packing needs non-negative weights")
        }
        // weight DESC, id ASC — the BFD order
        java.util.Arrays.sort(rows, new java.util.Comparator[(Long, Long)] {
          def compare(a: (Long, Long), b: (Long, Long)): Int = {
            val c = java.lang.Long.compare(b._2, a._2)
            if (c != 0) c else java.lang.Long.compare(a._1, b._1)
          }
        })
        // open packs keyed by residual capacity -> min-id packs at that
        // residual: best fit = smallest residual >= w, ties lowest id
        val byResidual =
          new java.util.TreeMap[Long, java.util.TreeSet[Integer]]()
        val used = scala.collection.mutable.ArrayBuffer.empty[Long]
        def place(res: Long, p: Int): Unit = {
          var set = byResidual.get(res)
          if (set == null) {
            set = new java.util.TreeSet[Integer]()
            byResidual.put(res, set)
          }
          set.add(p); ()
        }
        rows.iterator.map { case (id, w) =>
          // best fit = the open pack with the SMALLEST residual that
          // still fits (ceiling lookup), ties to the lowest pack id;
          // exactly-full packs leave the map (nothing but a w=0 doc
          // could join, and those go to the fullest NON-full pack)
          val e = byResidual.ceilingEntry(math.max(w, 0L))
          val pack =
            if (w <= budget && e != null) {
              val p = e.getValue.pollFirst().intValue()
              if (e.getValue.isEmpty) byResidual.remove(e.getKey)
              used(p) += w
              val r = budget - used(p)
              if (r > 0) place(r, p)
              p
            } else {
              val p = used.length
              used += w
              if (budget - w > 0) place(budget - w, p)
              p
            }
          (shard, id, w, pack.toLong)
        }
      }
      .toDF(shardCol, idCol, weightCol, "pack_id")
    out
  }

  /** Pack FILL report for any assignment — the padding-waste number a
    * policy is judged by: per (partCols..., pack_id), the doc count,
    * total weight, and fill rate in integer ppm of `budget` (oversize
    * packs read > 10⁶). */
  def packFill(assigned: DataFrame, partCols: Seq[String],
               weightCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    assigned.groupBy((partCols :+ "pack_id").map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col(weightCol).cast("long")).as("pack_weight"))
      .withColumn("fill_ppm",
        expr(s"pack_weight * 1000000L div ${budget}L"))
  }

  /** Per-pack summary: (partCols..., pack_id, n_docs, pack_weight). */
  def packSummary(df: DataFrame, orderCol: String, weightCol: String,
                  partCols: Seq[String], budget: Long): DataFrame =
    packByBudget(df, orderCol, weightCol, partCols, budget)
      .groupBy((partCols :+ "pack_id").map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col(weightCol)).as("pack_weight"))

  /** The distinct deleted ids, failing loud past
    * [[graft.store.ClaimRetraction.MaxRetractIds]] — the batch ceiling of
    * every forget leg. [[forgetPacks]] and [[repackForgotten]] broadcast
    * both this list and the per-pack index built from it (one row per
    * touched pack), so an oversized deletion would otherwise die in the
    * driver's broadcast build. Costs one count job over the list. */
  private def deadIds(deleted: DataFrame, deletedIdCol: String,
                      caller: String): DataFrame = {
    val ceiling = graft.store.ClaimRetraction.MaxRetractIds
    val dead = deleted
      .select(col(deletedIdCol).cast("long").as("_fp_dead")).distinct()
    val n = dead.limit(ceiling + 1).count()
    require(n <= ceiling, s"$caller: more than $ceiling distinct deleted " +
      "ids — the deletion list and its per-pack index are broadcast; " +
      s"split the deletion into batches of at most $ceiling ids")
    dead
  }

  /** RIGHT-TO-BE-FORGOTTEN over MATERIALIZED pack streams — the last
    * mile of a deletion cascade: the claims stores retract
    * ([[graft.store.ClaimLog.retract]]), the standing indexes delete
    * ([[Retrieval.bm25DeleteIndex]] family), but the training shards a
    * deleted document was already packed into still CONTAIN its tokens.
    * `forgetPacks` masks them out SHAPE-STABLY: every token position in
    * a deleted member's span `[doc_offsets[k], doc_offsets[k+1])`
    * (separator included — the span is the member's whole footprint)
    * becomes `padId`, and the member's entry in `doc_ids` becomes -1
    * (identity scrubbed); `n_tokens`, `doc_offsets` and every other
    * member's positions are BYTE-IDENTICAL, so file sizes, pack ids and
    * sample boundaries never shift and a trainer's prebuilt index maps
    * stay valid — it already skips pad runs via the attention mask the
    * offsets encode. `padId` must not collide with a real vocabulary id
    * or the separator (by convention vocab size + 1, one past the
    * separator slot).
    *
    * Input: a [[packTokenStreams]] output WITH `doc_ids` (fail loud
    * without — positions cannot be attributed to members otherwise);
    * `deleted` is the deletion batch (one long-castable id column,
    * administrative-sized — the [[graft.store.ClaimRetraction]]
    * ceiling is the intended contract, hence the broadcast).
    *
    * Output: the input columns plus `n_forgotten` (masked members in
    * this pack) and `n_masked_tokens` (positions rewritten). Packs with
    * no deleted member pass through with 0/0 — in a deployment, write
    * back only `n_forgotten > 0` rows (the touched packs), which is the
    * O(touched) rewrite a deletion event should cost, never O(corpus).
    *
    * Scale shape: one broadcast semi-probe of the (small) deletion list
    * against the member lists (explode is O(members), not O(tokens)),
    * one pack-keyed join back, then the mask itself is a per-row
    * Catalyst HOF — token arrays never cross an exchange. `packs` is
    * referenced TWICE (member probe + mask): pass the materialized
    * artifact (the training-file read — column pruning makes the probe
    * scan read only `pack_id`/`doc_ids`), not a live computation, or
    * the upstream chain executes twice. */
  def forgetPacks(packs: DataFrame, deleted: DataFrame,
                  deletedIdCol: String, padId: Long): DataFrame = {
    Seq("pack_id", "token_ids", "n_tokens", "doc_offsets", "doc_ids")
      .foreach(c => require(packs.columns.contains(c),
        s"forgetPacks needs column '$c' — pack with " +
          "packTokenStreams(docIdCol = Some(...))"))
    val dead = deadIds(deleted, deletedIdCol, "forgetPacks")
    val deadIdx = packs
      .select(col("pack_id").as("_fp_pack"),
        posexplode(col("doc_ids")).as(Seq("_fp_idx", "_fp_doc")))
      .join(broadcast(dead), col("_fp_doc") === col("_fp_dead"))
      .groupBy(col("_fp_pack"))
      .agg(sort_array(collect_list(col("_fp_idx"))).as("_fp_dead_idx"))
    val spans = transform(col("_fp_dead_idx"), k => struct(
      element_at(col("doc_offsets"), k + 1).as("s"),
      when(k + 2 <= size(col("doc_offsets")),
        element_at(col("doc_offsets"), k + 2))
        .otherwise(col("n_tokens").cast("long")).as("e")))
    val keep = packs.columns.map(col).toSeq
    // deadIdx is administrative-sized (<= one row per TOUCHED pack, itself
    // bounded by the deletion list, which deadIds caps) — broadcast it, or
    // the left join shuffles every pack's token payload on pack_id just to
    // attach it
    graft.functions.PinEval.ensureRegistered(packs.sparkSession)
    packs
      .join(broadcast(deadIdx), col("pack_id") === col("_fp_pack"), "left")
      .withColumn("_fp_dead_idx",
        coalesce(col("_fp_dead_idx"), array().cast("array<int>")))
      // pin_eval: _fp_spans feeds both the mask and n_masked_tokens —
      // unpinned, CollapseProject re-expands the span transform into
      // each consumer (member-level work, but free to evaluate once)
      .withColumn("_fp_spans", graft.functions.PinEval.pin(spans))
      .withColumn("token_ids", when(size(col("_fp_dead_idx")) === 0,
        col("token_ids")).otherwise(
        transform(col("token_ids"),
          (x, i) => when(exists(col("_fp_spans"),
            sp => i.cast("long") >= sp.getField("s") &&
              i.cast("long") < sp.getField("e")),
            lit(padId)).otherwise(x))))
      .withColumn("doc_ids", when(size(col("_fp_dead_idx")) === 0,
        col("doc_ids")).otherwise(
        transform(col("doc_ids"),
          (d, i) => when(array_contains(col("_fp_dead_idx"), i),
            lit(-1L)).otherwise(d))))
      .withColumn("n_forgotten", size(col("_fp_dead_idx")).cast("long"))
      .withColumn("n_masked_tokens", aggregate(col("_fp_spans"), lit(0L),
        (acc, sp) => acc + sp.getField("e") - sp.getField("s")))
      .select(keep ++ Seq(col("n_forgotten"), col("n_masked_tokens")): _*)
  }

  /** [[forgetPacks]]'s SPACE-RECLAIMING sibling — the right variant
    * BEFORE training has indexed the shards: deleted members are REMOVED
    * from their packs (surviving members' token slices re-concatenate in
    * order, `doc_offsets`/`doc_ids`/`n_docs`/`n_tokens` recompute), so
    * the trainer never pays attention-masked pad runs for forgotten
    * documents. Pack ids are PRESERVED (only touched packs shrink — the
    * O(touched) rewrite discipline); a pack whose every member died
    * drops from the output entirely. Once shards are written and
    * index-mapped, use [[forgetPacks]] instead — removal shifts every
    * later offset in the file.
    *
    * Output: the input columns (recomputed) plus `n_forgotten` (members
    * removed from this pack) and `n_freed_tokens` (positions
    * reclaimed). Same input contract and scale shape as
    * [[forgetPacks]]: one broadcast probe of the deletion list against
    * the member lists, one pack-keyed join back, per-row Catalyst HOF
    * folds — token arrays never cross an exchange. */
  def repackForgotten(packs: DataFrame, deleted: DataFrame,
                      deletedIdCol: String): DataFrame = {
    Seq("pack_id", "token_ids", "n_docs", "n_tokens", "doc_offsets",
      "doc_ids").foreach(c => require(packs.columns.contains(c),
      s"repackForgotten needs column '$c' — pack with " +
        "packTokenStreams(docIdCol = Some(...))"))
    val dead = deadIds(deleted, deletedIdCol, "repackForgotten")
    val deadIdx = packs
      .select(col("pack_id").as("_fp_pack"),
        posexplode(col("doc_ids")).as(Seq("_fp_idx", "_fp_doc")))
      .join(broadcast(dead), col("_fp_doc") === col("_fp_dead"))
      .groupBy(col("_fp_pack"))
      .agg(sort_array(collect_list(col("_fp_idx"))).as("_fp_dead_idx"))
    // surviving members as (d, s, e) slices of the original stream
    val aliveSlices = filter(
      transform(col("doc_ids"), (d, k) => struct(
        d.as("d"),
        element_at(col("doc_offsets"), k + 1).as("s"),
        when(k + 2 <= size(col("doc_offsets")),
          element_at(col("doc_offsets"), k + 2))
          .otherwise(col("n_tokens").cast("long")).as("e"),
        k.as("k"))),
      x => !array_contains(col("_fp_dead_idx"), x.getField("k")))
    val keep = packs.columns.map(col).toSeq
    // broadcast for the same reason as [[forgetPacks]]: deadIdx is
    // deletion-bounded; a shuffled join would move every token payload
    graft.functions.PinEval.ensureRegistered(packs.sparkSession)
    packs
      .join(broadcast(deadIdx), col("pack_id") === col("_fp_pack"), "left")
      .withColumn("_fp_dead_idx",
        coalesce(col("_fp_dead_idx"), array().cast("array<int>")))
      // pin_eval: _fp_alive feeds the survivors-only filter plus FIVE
      // recomputed columns (token_ids, doc_ids, doc_offsets, n_docs,
      // n_tokens) — unpinned, the alive-slice transform re-expands into
      // every one of them and the semantic size()>0 filter
      .withColumn("_fp_alive", graft.functions.PinEval.pin(aliveSlices))
      .withColumn("n_forgotten", size(col("_fp_dead_idx")).cast("long"))
      .filter(size(col("_fp_alive")) > 0)
      .withColumn("_fp_old_n", col("n_tokens").cast("long"))
      .withColumn("token_ids", when(col("n_forgotten") === 0,
        col("token_ids")).otherwise(
        flatten(transform(col("_fp_alive"), x => slice(col("token_ids"),
          (x.getField("s") + 1L).cast("int"),
          (x.getField("e") - x.getField("s")).cast("int"))))))
      .withColumn("doc_ids",
        transform(col("_fp_alive"), _.getField("d")))
      .withColumn("doc_offsets", aggregate(
        col("_fp_alive"),
        struct(array().cast("array<long>").as("offs"),
          lit(0L).as("cum")),
        (acc, x) => struct(
          concat(acc.getField("offs"),
            array(acc.getField("cum"))).as("offs"),
          (acc.getField("cum") + x.getField("e") - x.getField("s"))
            .as("cum")),
        acc => acc.getField("offs")))
      .withColumn("n_docs", size(col("_fp_alive")).cast("long"))
      .withColumn("n_tokens", aggregate(col("_fp_alive"), lit(0L),
        (acc, x) => acc + x.getField("e") - x.getField("s")))
      .withColumn("n_freed_tokens", col("_fp_old_n") - col("n_tokens"))
      .select(keep ++ Seq(col("n_forgotten"), col("n_freed_tokens")): _*)
  }

  /** CHECKPOINT-RESUME attribution — the training-ops read that turns a
    * trainer's global token offset (its step counter × tokens/step)
    * back into pack coordinates: for each `(step, global_off)` row,
    * which pack holds that token, at which position inside the pack,
    * belonging to which document, and the token id itself. A resumed
    * run seeks to `(pack_id, pack_off)` instead of re-reading every
    * shard before its checkpoint; the `doc_id` column is the provenance
    * answer ("which document was the trainer consuming at step N" — the
    * contamination-incident question).
    *
    * Semantics: the global token stream is the packs' own artifact
    * order (`pack_id` ascending, positions within each pack) — the same
    * total order the q132 concatenation freezes. A member's interval
    * covers its tokens plus its trailing separator, so a separator
    * position attributes to the document it terminates.
    *
    * Scale shape: the prefix sum runs over the (pack_id, n_tokens)
    * relation — 16 bytes per pack, the documented global-ordering
    * exception every pack/epoch artifact already pays (the ordering IS
    * the artifact); `steps` is checkpoint-bounded and broadcast, so the
    * range join is one broadcast nested-loop over the sized pack
    * relation, no shuffle of pack payloads. Out-of-range offsets fail
    * LOUD up front (one bounded probe) — a resume offset past the
    * stream's end silently matching nothing would resume a trainer at
    * the wrong byte. */
  def locate(packs: DataFrame, steps: DataFrame, stepCol: String,
             offCol: String): DataFrame = {
    val s = steps.select(col(stepCol).cast("long").as("step"),
      col(offCol).cast("long").as("global_off"))
    val total = packs.agg(coalesce(sum("n_tokens"), lit(0L)))
      .head().getLong(0)
    val bad = s.filter(col("global_off") < 0L ||
      col("global_off") >= total).head(1)
    require(bad.isEmpty,
      s"resume offset ${bad.headOption.map(_.get(1)).getOrElse("")} " +
        s"outside the token stream [0, $total) — refusing to locate a " +
        "checkpoint that cannot exist")
    val w = Window.orderBy("pack_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    packs
      .select(col("pack_id"), col("token_ids"), col("doc_offsets"),
        col("doc_ids"), col("n_tokens").as("_len"))
      .withColumn("_start", sum("_len").over(w) - col("_len"))
      .join(broadcast(s),
        col("global_off") >= col("_start") &&
          col("global_off") < col("_start") + col("_len"))
      .withColumn("_local", col("global_off") - col("_start"))
      // member = last doc_offsets entry at or before the local position
      .withColumn("_mi",
        size(filter(col("doc_offsets"), o => o <= col("_local"))) - 1)
      .select(col("step"), col("global_off"), col("pack_id"),
        col("_local").as("pack_off"),
        element_at(col("doc_ids"), col("_mi") + 1).as("doc_id"),
        element_at(col("token_ids"),
          (col("_local") + 1).cast("int")).as("token_id"))
  }
}
