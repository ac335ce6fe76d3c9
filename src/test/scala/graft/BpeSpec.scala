package graft

import graft.operators.BpeOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicInteger

/** BPE training contracts, pinned against the hand-worked example from
  * Sennrich, Haddow & Birch (ACL'16, §3.2 / fig. 1): the vocabulary
  * {low×5, lower×2, newest×6, widest×3} must learn exactly
  * es → est → est</w> → lo → low under count-desc / lexicographic
  * tie-break, and encoding an UNSEEN word ("lowest") with those merges
  * must produce the classic [low, est</w>] segmentation. Greedy
  * left-to-right merge semantics are pinned on the overlapping-pair
  * corpus ("aaaa": three (a,a) positions but only two non-overlapping
  * fuses). The driver-finish and distributed regimes must learn the
  * same merge list on every fixture. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(words: (String, Int)*) =
    words.flatMap { case (w, n) => Seq.fill(n)(w) }
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")

  test("Sennrich example: merge sequence es, est, est</w>, lo, low") {
    val docs = corpus("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3)
    val out = BpeOps.bpeTrain(docs, "doc_id", "text", merges = 5)
      .orderBy("rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "est", "</w>", "est</w>", 9L),
      (4, "l", "o", "lo", 7L),
      (5, "lo", "w", "low", 7L)), out.mkString(", "))
  }

  test("greedy left-to-right: overlapping pairs fuse non-overlapping") {
    // "aaaa" has THREE (a,a) adjacencies (count 3) but a greedy pass
    // produces [aa, aa, </w>], and the next round fuses (aa, </w>)
    // before (aa, aa) on the lexicographic r tie ("</w>" < "aa")
    val out = BpeOps.bpeTrain(corpus("aaaa" -> 1), "doc_id", "text",
        merges = 3)
      .orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("a", "a", 3L), ("aa", "</w>", 1L), ("aa", "aa</w>", 1L)),
      out.mkString(", "))
  }

  test("encode applies the learned merges to unseen words") {
    val docs = corpus("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3)
    val merges = BpeOps.bpeTrain(docs, "doc_id", "text", merges = 5)
      .orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    // "lowest" (unseen): l,o,w,e,s,t,</w> → es → est → est</w> → lo →
    // low = [low, est</w>]; "lower" (seen) keeps e,r unfused
    val enc = BpeOps.bpeEncode(
        Seq((1L, "lowest lower")).toDF("doc_id", "text"), "text", merges)
      .select("bpe_tokens").as[Seq[String]].head()
    assert(enc == Seq("low", "est</w>", "low", "e", "r", "</w>"),
      enc.mkString("|"))
  }

  test("early exhaustion: a single-symbol vocab stops before the budget") {
    // one word "ab" → merges (a,b), (ab,</w>), then nothing pairable
    val out = BpeOps.bpeTrain(corpus("ab" -> 4), "doc_id", "text",
        merges = 10)
      .collect()
    assert(out.length == 2, out.mkString(", "))
  }

  test("bulk mapPartitions encoder == composed-expression encoder") {
    val docs = corpus("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3)
    val merges = BpeOps.bpeTrain(docs, "doc_id", "text", merges = 5)
      .orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val probe = Seq(
      (1L, "g1", "lowest lower"),
      (2L, "g1", "newest widest unseen"),
      (3L, "g2", ""),                       // empty doc: 0 words, 0 tokens
      (4L, "g2", "  low   low  "),          // whitespace runs collapse
      (5L, "g2", "aaaa lowestlow"))
      .toDF("doc_id", "source", "text")
    val viaExpr = BpeOps.bpeEncode(probe, "text", merges)
      .select(col("doc_id"), col("bpe_tokens"))
      .as[(Long, Seq[String])].collect().toMap
    val viaBulk = BpeOps.bpeTokenize(probe, "doc_id", "source", "text", merges)
      .select(col("id"), col("tokens"))
      .as[(Long, Seq[String])].collect().toMap
    assert(viaBulk.keySet == viaExpr.keySet)
    viaBulk.foreach { case (id, toks) =>
      assert(toks == viaExpr(id), s"doc $id: $toks vs ${viaExpr(id)}")
    }
    // n_words is the whitespace word count (the fertility denominator)
    val words = BpeOps.bpeTokenize(probe, "doc_id", "source", "text", merges)
      .select(col("id"), col("n_words")).as[(Long, Long)].collect().toMap
    assert(words == Map(1L -> 2L, 2L -> 3L, 3L -> 0L, 4L -> 2L, 5L -> 2L))
  }

  test("bulk encoder: trained segmentation, cache-independent") {
    val docs = corpus("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3)
    val merges = BpeOps.bpeTrain(docs, "doc_id", "text", merges = 5)
      .orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    // repeated words exercise the per-partition cache path; 1 partition
    // forces every row through the same cache instance
    val rep = Seq((1L, "s", "lowest lowest lowest newest"))
      .toDF("doc_id", "source", "text").coalesce(1)
    val toks = BpeOps.bpeTokenize(rep, "doc_id", "source", "text", merges)
      .select(col("tokens")).as[Seq[String]].head()
    assert(toks == Seq("low", "est</w>", "low", "est</w>", "low", "est</w>",
      "n", "e", "w", "est</w>"), toks.mkString("|"))
  }

  /** Merge rows of [[BpeOps.bpeTrainBounded]] in rank order. */
  private def trainWith(docs: DataFrame, merges: Int, maxDriverVocab: Int) =
    BpeOps.bpeTrainBounded(docs, "text", merges, reliableEvery = 0,
        maxDriverVocab = maxDriverVocab)
      .orderBy("rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq

  /** (driver-finish, distributed) merge lists for one fixture. */
  private def bothRegimes(docs: DataFrame, merges: Int) =
    (trainWith(docs, merges, BpeOps.MaxDriverVocab), trainWith(docs, merges, 0))

  test("driver finish == distributed loop: Sennrich, overlap, exhaustion") {
    Seq((corpus("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3), 20),
        (corpus("aaaa" -> 1), 3),
        (corpus("ab" -> 4), 10)).foreach { case (docs, merges) =>
      val (onDriver, distributed) = bothRegimes(docs, merges)
      assert(onDriver.nonEmpty)
      assert(onDriver == distributed,
        s"\ndriver: ${onDriver.mkString(", ")}\ndistributed: ${distributed.mkString(", ")}")
    }
  }

  test("argmax ties break on UTF-8 bytes in both regimes") {
    // U+FF21 (EF BC A1) sorts BEFORE U+1F600 (F0 9F 98 80) as UTF-8, but
    // AFTER it as UTF-16 code units (FF21 vs D83D): a String.compareTo
    // tie-break would learn (x, 😀) first
    val fw = "\uFF21"
    val emoji = new String(Character.toChars(0x1F600))
    val (onDriver, distributed) =
      bothRegimes(corpus(s"x$fw" -> 1, s"x$emoji" -> 1), merges = 10)
    assert(onDriver == Seq(
      (1, "x", fw, s"x$fw", 1L),
      (2, "x", emoji, s"x$emoji", 1L),
      (3, s"x$fw", "</w>", s"x$fw</w>", 1L),
      (4, s"x$emoji", "</w>", s"x$emoji</w>", 1L)), onDriver.mkString(", "))
    assert(distributed == onDriver, distributed.mkString(", "))
  }

  /** Jobs started inside `f`, counted by a listener on the job group.
    * A marker job after `f` flushes the in-order listener bus, so every
    * job of `f` has been delivered once the marker's start arrives. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"bpe-jobs-${System.nanoTime}"
    val marker = s"$group-marker"
    val started = new AtomicInteger
    @volatile var flushed = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(`marker`) => flushed = true
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!flushed && System.nanoTime < deadline) Thread.sleep(10)
      assert(flushed, "listener bus did not deliver the marker job")
    } finally sc.removeSparkListener(listener)
    started.get
  }

  test("driver finish: job count is constant in the merge budget") {
    // two long words leave > 25 mergeable pairs, so neither budget
    // exhausts early; the small vocab takes the driver-finish regime
    val docs = corpus("internationalization" -> 3, "counterrevolutionaries" -> 2)
    def jobs(merges: Int): Int = {
      var out: DataFrame = null
      val n = jobsDuring { out = BpeOps.bpeTrain(docs, "doc_id", "text", merges) }
      assert(out.count() == merges)
      n
    }
    val (j5, j25) = (jobs(5), jobs(25))
    // the vocab checkpoint (two jobs under AQE, which runs the groupBy's
    // shuffle stage as its own job) plus the bounded collect; a job per
    // round would give j25 > j5
    assert(j5 >= 1 && j25 == j5, s"merges=5: $j5 jobs, merges=25: $j25 jobs")
    assert(j25 <= 3, s"$j25 jobs")
  }
}
