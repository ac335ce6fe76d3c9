package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Byte-pair-encoding tokenizer TRAINING (Sennrich, Haddow & Birch,
  * ACL'16 §3.2) — the full count→merge→rewrite loop, not just the one
  * pair-counting round ([[CorpusOps.bpePairCounts]] / q118 is that
  * single step). Each iteration finds the most frequent adjacent symbol
  * pair (weighted by word frequency) and fuses it into one symbol in
  * every word; `merges` iterations yield the ranked merge list that IS
  * the trained tokenizer.
  *
  * Scale discipline (the part that matters at 100 TB):
  *  - The corpus is touched exactly ONCE — the initial distinct-word
  *    collapse (map-side combinable count), eagerly `localCheckpoint`ed.
  *    Every iteration after that runs on the VOCAB table (distinct words
  *    × symbol arrays), whose size is bounded by the language, not the
  *    corpus (the classic BPE-on-vocab optimization; Sennrich's reference
  *    implementation does the same).
  *  - Two regimes, picked by ONE bounded `limit(MaxDriverVocab + 1)`
  *    collect (one job, one task) of the checkpointed vocab (see
  *    [[MaxDriverVocab]] for the heap arithmetic):
  *    - Driver finish (vocab ≤ [[MaxDriverVocab]] words): the collected
  *      vocab runs the whole count → argmax → rewrite loop as a plain JVM
  *      loop — the same bounded-metadata discipline as
  *      [[DedupOps.nearDupClusters]]' `maxDriverEdges` union-find. The
  *      job count is then constant in `merges` (checkpoint + collect);
  *      per-round scheduling, re-planning and checkpoints all vanish.
  *    - Distributed (larger vocab): per iteration, one explode→sum
  *      aggregate over the vocab for pair counts, one ordered `limit(1)`
  *      collect for the argmax (one (pair, count) row), and one rewrite
  *      pass guarded by a cheap codegen'd adjacency test (separator-joined
  *      `contains`) so the interpreted fold lambda only runs on words
  *      that actually contain the winning pair. Each generation is
  *      `localCheckpoint`ed lazily (the Pregel lesson: a lazy chain of
  *      `merges` rewrite lambdas would re-execute the whole history each
  *      round) and its parent unpersisted one round late;
  *      `reliableEvery` upgrades every k-th iteration to a durable
  *      checkpoint ([[Ckpt.step]] contract).
  *
  * Greedy left-to-right merge semantics within a word (leftmost
  * occurrence first, rescan continues after the fused token) and
  * count-desc / pair-lexicographic argmax tie-break (Spark's string
  * order: UTF-8 bytes, in both regimes), so the merge list is
  * deterministic and engines replaying it agree exactly.
  *
  * Returns one row per learned merge: (rank, left, right, merged, cnt)
  * with rank 1-based in merge order; stops early if no pair remains. */
object BpeOps {

  /** End-of-word marker appended to every word's symbol sequence
    * (Sennrich's `</w>`): lets the tokenizer distinguish "er" in
    * "higher</w>" from "er</w>" as a suffix. */
  val EndMark = "</w>"

  /** Greedy left-to-right fuse of adjacent (a, b) into `ab` over a
    * symbol array, as a Catalyst `aggregate` fold: state = (out,
    * pending); each symbol either completes a merge with the pending
    * one, flushes it, or becomes the new pending. */
  private[graft] def mergePair(syms: Column, a: String, b: String): Column = {
    val merged = a + b
    val init = struct(
      array().cast("array<string>").as("out"),
      lit(null).cast("string").as("p"))
    aggregate(
      syms,
      init,
      (acc, s) =>
        when(acc.getField("p").isNull,
          struct(acc.getField("out").as("out"), s.as("p")))
        .when(acc.getField("p") === lit(a) && s === lit(b),
          struct(concat(acc.getField("out"), array(lit(merged))).as("out"),
            lit(null).cast("string").as("p")))
        .otherwise(
          struct(concat(acc.getField("out"), array(acc.getField("p"))).as("out"),
            s.as("p"))),
      acc => when(acc.getField("p").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("p")))))
  }

  /** Cheap codegen'd adjacency pre-test: does `syms` contain a followed
    * immediately by b? Exact via separator-joined containment (symbols
    * never contain U+0001: they are characters of whitespace-delimited
    * tokens, the end marker, or concatenations thereof). */
  private def containsPair(syms: Column, a: String, b: String): Column = {
    val sep = "\u0001"
    concat(lit(sep), concat_ws(sep, syms), lit(sep))
      .contains(sep + a + sep + b + sep)
  }

  /** Driver-finish gate: the largest distinct-word vocab whose merge
    * rounds [[bpeTrain]] runs on the driver. Heap arithmetic per word of
    * ~10 symbols: the collected symbol array (10 short Strings at ~48 B
    * plus the array and its freq ≈ 0.5 KB) and at most its 9 adjacent-pair
    * entries in the round's count map (key tuple, boxed Long and hash node
    * ≈ 64 B each ≈ 0.6 KB) — about 1 KB, so 2¹⁶ words ≈ 64 MB, the same
    * driver budget as [[DedupOps.nearDupClusters]]' 2²² edges. Real
    * vocabularies beyond it (noisy web text has millions of distinct
    * words) take the distributed loop. */
  private[graft] val MaxDriverVocab: Int = 1 << 16

  private type Merge = (Int, String, String, String, Long)

  def bpeTrain(docs: DataFrame, idCol: String, textCol: String,
               merges: Int, reliableEvery: Int = 0): DataFrame =
    bpeTrainBounded(docs, textCol, merges, reliableEvery, MaxDriverVocab)

  /** [[bpeTrain]] with an explicit driver-finish gate: vocabs of at most
    * `maxDriverVocab` words train on the driver, larger ones distributed
    * (`maxDriverVocab = 0` forces the distributed loop on any non-empty
    * vocab; the spec runs both and asserts equal merge lists). */
  private[graft] def bpeTrainBounded(docs: DataFrame, textCol: String,
                                     merges: Int, reliableEvery: Int,
                                     maxDriverVocab: Int): DataFrame = {
    require(merges >= 1 && merges <= 100000, s"merges in [1, 1e5], got $merges")
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE corpus pass: distinct-word frequencies, then chars + end mark.
    // Spread the text projection if the scan arrived single-partition
    // (gate parquet = one row group) — the split/HOF work is per-row CPU.
    val vocab = Spread.ifNarrow(docs.select(col(textCol)))
      .select(explode_outer(TextOps.tokens(col(textCol))).as("w"))
      .filter(col("w").isNotNull && col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(concat(
        filter(split(col("w"), ""), s => s =!= ""),
        array(lit(EndMark))).as("syms"), col("freq"))
      .localCheckpoint()
    // one job, one task: the coalesce reads the checkpointed partitions in
    // turn and the limit stops it after maxDriverVocab + 1 rows (a bare
    // limit-collect scans one partition, then schedules the rest)
    val head = vocab.coalesce(1).limit(maxDriverVocab + 1).collect()
    val learned =
      if (head.length <= maxDriverVocab) {
        vocab.unpersist(blocking = false)
        trainOnDriver(
          head.map(r => (r.getSeq[String](0).toArray, r.getLong(1))), merges)
      } else trainDistributed(vocab, merges, reliableEvery)
    learned.toDF("rank", "left", "right", "merged", "cnt")
  }

  /** Spark's argmax order for the pair counts: count desc, then `l`, then
    * `r` as UTF-8 bytes (`String.compareTo` orders UTF-16 code units and
    * disagrees for supplementary-plane symbols). */
  private val pairOrder: Ordering[((String, String), Long)] =
    Ordering.by[((String, String), Long), Long](-_._2)
      .orElseBy(p => UTF8String.fromString(p._1._1))
      .orElseBy(p => UTF8String.fromString(p._1._2))

  /** The driver-finish regime: the merge loop over a collected vocab of
    * (symbols, freq) rows, recounting pairs every round. */
  private def trainOnDriver(vocab0: Array[(Array[String], Long)],
                            merges: Int): Seq[Merge] = {
    var vocab = vocab0
    val learned = mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    while (learned.length < merges && !exhausted) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, freq) =>
        var j = 0
        while (j + 1 < syms.length) {
          val p = (syms(j), syms(j + 1))
          counts.update(p, counts.getOrElse(p, 0L) + freq)
          j += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), cnt) = counts.min(pairOrder)
        learned += ((learned.length + 1, a, b, a + b, cnt))
        vocab = vocab.map { case (syms, freq) => (fuse(syms, a, b), freq) }
      }
    }
    learned.toSeq
  }

  /** The distributed regime: each round aggregates pair counts over the
    * checkpointed vocab, collects the one top pair and rewrites the vocab
    * into a lazily checkpointed next generation. Takes ownership of
    * `vocab0` (unpersists it). */
  private def trainDistributed(vocab0: DataFrame, merges: Int,
                               reliableEvery: Int): Seq[Merge] = {
    var vocab = vocab0
    // previous vocab generation, unpersisted one round LATE: the current
    // generation checkpoints LAZILY (its blocks materialize inside the
    // next round's top-pair collect — one job per round instead of two),
    // so its parent's blocks must outlive it by one collect
    var lagged: DataFrame = null
    val learned = mutable.ArrayBuffer.empty[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= merges && !exhausted) {
      val mkPairs = transform(sequence(lit(1), size(col("syms")) - lit(1)),
        j => struct(element_at(col("syms"), j).as("l"),
          element_at(col("syms"), j + lit(1)).as("r")))
      val top = vocab
        .select(col("freq"), explode(when(size(col("syms")) >= 2, mkPairs)
          .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      // the collect above has materialized `vocab`'s deferred checkpoint,
      // so the generation BEFORE it is now safe to release (the DedupOps
      // superseded-generation discipline, shifted one round)
      if (lagged != null) { lagged.unpersist(blocking = false); lagged = null }
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        learned += ((rank, a, b, a + b, cnt))
        val next = vocab.select(
          when(containsPair(col("syms"), a, b), mergePair(col("syms"), a, b))
            .otherwise(col("syms")).as("syms"),
          col("freq"))
        lagged = vocab
        vocab = Ckpt.step(next, rank, reliableEvery, eager = false)
      }
      rank += 1
    }
    if (lagged != null) lagged.unpersist(blocking = false)
    vocab.unpersist(blocking = false)
    learned.toSeq
  }

  /** Apply a learned merge list to new text — the tokenizer ENCODE side:
    * per word, replay the merges in rank order (each a greedy
    * left-to-right fuse). The merge list is collected (it is tokenizer
    * metadata, ≤ `merges` rows) and baked into one composed column
    * expression, so encoding is a single projection over the corpus —
    * no join, no shuffle.
    *
    * Returns `docs` plus a `bpe_tokens` array column. */
  def bpeEncode(docs: DataFrame, textCol: String,
                mergeList: Seq[(String, String)]): DataFrame = {
    require(mergeList.size <= 64,
      "composed-expression encode nests one fold per merge — fine for " +
        "a demo-sized list, but a real vocabulary (10k+ merges) should " +
        "bake the merge ranks into a mapPartitions encoder instead")
    // drop empty words (split of an all-whitespace doc yields [""]) —
    // the same convention the trainer's explode filter applies
    docs.withColumn("bpe_tokens",
      flatten(transform(
        filter(TextOps.tokens(col(textCol)), w => w =!= ""),
        w => mergeListEncode(w, mergeList))))
  }

  /** Symbol sequence for one word under a merge list (helper for
    * [[bpeEncode]]; split out so the lambda stays a pure Column fn). */
  private def mergeListEncode(w: Column, mergeList: Seq[(String, String)]): Column = {
    val base = concat(filter(split(w, ""), s => s =!= ""), array(lit(EndMark)))
    mergeList.foldLeft(base) { case (acc, (a, b)) => mergePair(acc, a, b) }
  }

  /** ONE greedy left-to-right fuse pass of adjacent (a, b) into `a + b`
    * over a plain symbol array — identical pending/flush semantics to
    * [[mergePair]], shared by the driver-finish trainer and
    * [[encodeWord]]. O(|syms|); returns `syms` itself when the pair does
    * not occur. */
  private def fuse(syms: Array[String], a: String,
                   b: String): Array[String] =
    if (syms.length < 2) syms
    else {
      val out = new mutable.ArrayBuffer[String](syms.length)
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += a + b; i += 2
        } else { out += syms(i); i += 1 }
      }
      if (out.length < syms.length) out.toArray else syms
    }

  /** One word → its BPE symbols under `mergeList`, plain-JVM replay of
    * [[mergeListEncode]]'s fold (chars + [[EndMark]], then each merge in
    * rank order as one [[fuse]] pass), so the two encoders are
    * spec-checked equal. */
  private[graft] def encodeWord(w: String,
                                mergeList: Array[(String, String)]): Array[String] =
    mergeList.foldLeft(w.split("").filter(_.nonEmpty) :+ EndMark) {
      case (syms, (a, b)) => fuse(syms, a, b)
    }

  /** Row shapes for the bulk encoder's typed pipeline. */
  final case class BpeDocIn(id: Long, grp: String, text: String)
  final case class BpeDocTokens(id: Long, grp: String, n_words: Long,
                                tokens: Seq[String])

  /** Corpus-scale tokenizer ENCODE: apply a trained merge list (q301's
    * output) to every document in ONE `mapPartitions` scan — the 100 TB
    * path the [[bpeEncode]] scaladoc promises. The merge list is
    * tokenizer METADATA (≤ vocab-size rows), shipped to executors as a
    * Spark broadcast and replayed per word by [[encodeWord]]; a
    * per-partition word→symbols cache (Zipf's law: the head of the
    * distinct-word distribution covers most positions) makes repeated
    * words O(1), capped at 2^20 entries so a pathological partition
    * can't OOM the executor. No join, no shuffle, no driver collect —
    * the plan is scan → project, and downstream aggregates (fertility,
    * token counts) combine map-side as usual.
    *
    * Returns (id, grp, n_words, tokens): the tokenized document plus
    * its whitespace word count (the fertility denominator). */
  def bpeTokenize(docs: DataFrame, idCol: String, grpCol: String,
                  textCol: String,
                  mergeList: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(mergeList.toArray)
    docs.select(col(idCol).cast("long").as("id"), col(grpCol).as("grp"),
        col(textCol).as("text")).as[BpeDocIn]
      .mapPartitions { rows =>
        val merges = bc.value
        val cache = new java.util.HashMap[String, Array[String]]()
        rows.map { r =>
          val words = Option(r.text).getOrElse("").trim
            .split("\\s+").filter(_.nonEmpty)
          val out = new scala.collection.mutable.ArrayBuffer[String]()
          words.foreach { w =>
            var syms = cache.get(w)
            if (syms == null) {
              syms = encodeWord(w, merges)
              if (cache.size < (1 << 20)) cache.put(w, syms)
            }
            out ++= syms
          }
          BpeDocTokens(r.id, r.grp, words.length.toLong, out.toSeq)
        }
      }
      .toDF("id", "grp", "n_words", "tokens")
  }
}
