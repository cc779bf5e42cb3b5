package graft.ops

import graft.{CachedFrames, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.range(0, 1000).select(
    col("id").as("doc_id"),
    concat(lit("doc number "), col("id").cast("string"), lit(" content words here")).as("text"),
    when(col("id") % 3 === 0, "en").when(col("id") % 3 === 1, "fr").otherwise("de").as("lang"))

  test("assignSplit covers every row, respects weights, and is deterministic") {
    val split = Curation.assignSplit(
      docs, "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = split.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == 1000)
    assert(counts.keySet == Set("train", "val", "test"))
    // hash buckets over 1000 ids: expect each split within a loose
    // band of its weight (binomial 3-sigma is ~±38 for train)
    assert(counts("train") > 700 && counts("train") < 900, counts.toString)
    assert(counts("val") > 40 && counts("val") < 180, counts.toString)
    // pure function of (id, seed): re-running reproduces exactly
    val again = Curation.assignSplit(
      docs.repartition(7), "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.select("doc_id", "split").except(again.select("doc_id", "split")).isEmpty)
    // different seed → different assignment (not a constant function)
    val reseeded = Curation.assignSplit(
      docs, "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 99L)
    assert(split.select("doc_id", "split").except(reseeded.select("doc_id", "split")).count() > 0)
  }

  test("spanCorrupt: runs collapse to sentinels, targets invert the corruption, determinism") {
    // force a known mask with a custom hasher: mask positions 1,2 and 5
    val maskedPos = Set(1L, 2L, 5L)
    val fixedHasher: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column = (_, x) =>
      when(element_at(split(x, "\\|"), 2).cast("long").isin(maskedPos.toSeq: _*), lit(0L))
        .otherwise(lit(9999L))
    val doc = Seq((7L, "a b c d e f g")).toDF("doc_id", "text")
    val out = Curation.spanCorrupt(doc, "text", "doc_id", maskRate = 0.15,
        hasher = fixedHasher)
      .head()
    // tokens: a [b c] d e [f] g → spans 1 and 2
    assert(out.getAs[String]("corrupted") == "a <extra_id_1> d e <extra_id_2> g")
    assert(out.getAs[String]("targets") == "<extra_id_1> b c <extra_id_2> f")
    assert(out.getAs[Long]("n_tokens") == 7L && out.getAs[Long]("n_masked") == 3L
      && out.getAs[Long]("n_spans") == 2L)
    // real hasher: deterministic across partitionings, ~maskRate mass,
    // unmasked doc keeps full text with empty targets
    val docs = (0L until 50L).map(i => (i, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")).toDF("doc_id", "text")
    val a = Curation.spanCorrupt(docs, "text", "doc_id").orderBy("doc_id").collect()
    val b = Curation.spanCorrupt(docs.repartition(7), "text", "doc_id").orderBy("doc_id").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val totalMasked = a.map(_.getAs[Long]("n_masked")).sum
    assert(totalMasked > 30 && totalMasked < 120, s"masked $totalMasked of 500")
    a.filter(_.getAs[Long]("n_masked") == 0L).foreach { r =>
      assert(r.getAs[String]("corrupted") == "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")
      assert(r.getAs[String]("targets") == "")
    }
    intercept[IllegalArgumentException] {
      Curation.spanCorrupt(doc, "text", "doc_id", maskRate = 1.0)
    }
  }

  test("quantileNormalize/fairGate: every source keeps its best fraction; a global cut starves one") {
    // rich source scores 100..199, poor source scores 1..100: a global
    // top-half cut keeps ~all of rich and ~none of poor; the fair gate
    // keeps exactly the top half OF EACH.
    val rows = (0 until 100).map(i => ("rich", 100.0 + i)) ++
      (0 until 100).map(i => ("poor", 1.0 + i))
    val df = rows.toDF("source", "score")
    val norm = Curation.quantileNormalize(df, Seq("source"), col("score"))
    // percent_rank spans [0, 1] per group; max score normalizes to 1
    val tops = norm.filter(col("pct") === 1.0)
      .select("score").as[Double].collect().toSet
    assert(tops == Set(199.0, 100.0))
    val kept = Curation.fairGate(df, Seq("source"), col("score"), keepFrac = 0.5)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    // pct >= 0.5 keeps the top half of each source (50 of 100, ±1 boundary)
    assert(kept("rich") == 50 && kept("poor") == 50, kept.toString)
    intercept[IllegalArgumentException] {
      Curation.fairGate(df, Seq("source"), col("score"), keepFrac = 0.0)
    }
    intercept[IllegalArgumentException] {
      Curation.quantileNormalize(df.withColumn("pct", lit(1)), Seq("source"), col("score"))
    }
  }

  test("assignSplit refuses to shadow an existing bucket/split column") {
    // same reserved-name contract as tokenBudget/mixSources: appending
    // over an existing column would silently overwrite user data.
    val withSplit = docs.withColumn("split", lit("gold"))
    val e = intercept[IllegalArgumentException] {
      Curation.assignSplit(withSplit, "doc_id", Seq("train" -> 1.0))
    }
    assert(e.getMessage.contains("split"))
    val withBucket = docs.withColumn("bucket", lit(1))
    intercept[IllegalArgumentException] {
      Curation.assignSplitBy(withBucket, "lang", Seq("train" -> 1.0))
    }
  }

  test("stratifiedSample keeps roughly rate-per-stratum, deterministically") {
    val kept = Curation.stratifiedSample(
      docs, "doc_id", "lang", Seq("en" -> 0.5, "fr" -> 0.2), defaultRate = 0.0)
    val byLang = kept.groupBy("lang").count().as[(String, Long)].collect().toMap
    // strata have ~333 rows each; 3-sigma bands
    assert(byLang("en") > 110 && byLang("en") < 220, byLang.toString)
    assert(byLang("fr") > 30 && byLang("fr") < 110, byLang.toString)
    assert(!byLang.contains("de")) // defaultRate 0 drops the rest
    // subset of input, stable across partitionings
    assert(kept.join(docs, Seq("doc_id"), "left_anti").isEmpty)
    val again = Curation.stratifiedSample(
      docs.repartition(5), "doc_id", "lang", Seq("en" -> 0.5, "fr" -> 0.2), defaultRate = 0.0)
    assert(kept.select("doc_id").except(again.select("doc_id")).isEmpty)
  }

  test("redactPii removes every match and counts agree with the pre-scan") {
    val dirty = Seq(
      (1L, "mail me at some.user+tag@sub.example.org thanks"),
      (2L, "call 555-123-4567 or visit 192.168.0.1 today"),
      (3L, "no pii here at all"),
      (4L, "two mails a@b.co and c.d@e-f.org plus 10.0.0.255")
    ).toDF("id", "text")
    val out = dirty.select(
      col("id") +: Curation.redactPii(col("text")).as("red") +:
        Curation.piiCounts(col("text")).map { case (n, c) => c.as(n) }: _*)
    val rows = out.orderBy("id").collect()
    assert(rows(0).getAs[String]("red") == "mail me at [EMAIL] thanks")
    assert(rows(1).getAs[String]("red") == "call [PHONE] or visit [IP] today")
    assert(rows(2).getAs[String]("red") == "no pii here at all")
    assert(rows(3).getAs[String]("red") == "two mails [EMAIL] and [EMAIL] plus [IP]")
    assert(rows.map(_.getAs[Long]("n_emails")).toSeq == Seq(1L, 0L, 0L, 2L))
    assert(rows.map(_.getAs[Long]("n_phones")).toSeq == Seq(0L, 1L, 0L, 0L))
    assert(rows.map(_.getAs[Long]("n_ips")).toSeq == Seq(0L, 1L, 0L, 1L))
    // redacted text has no residual matches
    val residual = out.filter(
      col("red").rlike(Curation.emailPattern) ||
      col("red").rlike(Curation.phonePattern) ||
      col("red").rlike(Curation.ipPattern))
    assert(residual.isEmpty)
  }

  test("decontaminate flags overlap with the benchmark side only") {
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words then the quick brown fox jumps over the lazy dog and more"),
      (2L, "entirely unrelated content about database query optimizers"),
      (3L, "the quick brown fox appears briefly here") // only 2 shared trigrams
    ).toDF("doc_id", "text")
    val hits = Curation.decontaminate(corpus, bench, "text", "doc_id", minShared = 3L)
      .as[(Long, Long, Long)].collect().map { case (d, _, n) => d -> n }.toMap
    assert(hits.keySet == Set(1L))
    // "the quick brown fox jumps over the lazy dog" has 7 trigrams,
    // all present in doc 1
    assert(hits(1L) == 7L)
    val loose = Curation.decontaminate(corpus, bench, "text", "doc_id", minShared = 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(loose == Set(1L, 3L))
  }

  test("decontaminateBloom is bit-identical to exact decontaminate, and its probe never false-negatives") {
    val bench = docs.limit(40).toDF()
    val corpus = docs.filter(col("doc_id") >= 20 && col("doc_id") < 300).toDF()
    for (minShared <- Seq(1L, 2L); fpp <- Seq(0.5, 0.01)) { // high fpp: exact join must kill the extra maybes
      val exact = Curation.decontaminate(corpus, bench, "text", "doc_id", minShared = minShared)
        .as[(Long, Long, Long)].collect().toSet
      val bloom = Curation.decontaminateBloom(
          corpus, bench, "text", "doc_id", minShared = minShared, fpp = fpp)
        .as[(Long, Long, Long)].collect().toSet
      assert(bloom == exact, s"minShared=$minShared fpp=$fpp: ${bloom.diff(exact)} / ${exact.diff(bloom)}")
      assert(exact.nonEmpty) // the overlap range 20-39 must be flagged
    }
    intercept[IllegalArgumentException] {
      Curation.decontaminateBloom(corpus, bench, "text", "doc_id", fpp = 1.5)
    }
  }

  test("packSequences: offsets are exclusive prefix sums in id order") {
    val d = docs.limit(100)
      .select(col("doc_id"), TextAnalysis.bpeTokenCount(col("text")).as("n_tokens"))
    val packed = Curation.packSequences(d, "doc_id", "n_tokens", budget = 17L)
      .select("doc_id", "n_tokens", "pack_id", "pack_offset")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect()
    var cum = 0L
    packed.foreach { case (_, n, packId, off) =>
      assert(packId == cum / 17, s"pack_id mismatch at cum=$cum")
      assert(off == cum % 17, s"pack_offset mismatch at cum=$cum")
      cum += n
    }
    // nondecreasing pack ids in id order
    assert(packed.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
    // row for row against the one-task window, across shuffle layouts
    val big = skewedSources.select("doc_id", "n_tokens")
    val before = coalesce(sum("n_tokens").over(Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val expected = rows(big
      .withColumn("pack_id", before.divide(17L).cast("long"))
      .withColumn("pack_offset", before % 17L))
    def pack(df: DataFrame): DataFrame = Curation.packSequences(df, "doc_id", "n_tokens", 17L)
    forEachShuffleLayout { layout => assert(rows(pack(big)) == expected, layout) }
    assert(rows(builtThenUncached(big)(pack)) == expected)
  }

  test("packSequences refuses frames already carrying its output columns") {
    val d = docs.limit(5)
      .select(col("doc_id"), TextAnalysis.bpeTokenCount(col("text")).as("n_tokens"))
    val e = intercept[IllegalArgumentException] {
      Curation.packSequences(d.withColumn("pack_id", lit(0L)), "doc_id", "n_tokens", 17L)
    }
    assert(e.getMessage.contains("pack_id"))
  }

  test("vocabulary is the deterministic top-k by (freq desc, token)") {
    val d = Seq(
      "a a a b b c", "a b d", "e"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val v = Curation.vocabulary(d, "text", 3)
      .as[(String, Long, Int)].collect().toSeq
    assert(v == Seq(("a", 4L, 1), ("b", 3L, 2), ("c", 1L, 3)))
  }

  test("samplePerGroup keeps exactly k per group, deterministically") {
    val d = (1 to 200).map(i => (i.toLong, s"g${i % 4}")).toDF("id", "g")
    val s1 = Curation.samplePerGroup(d, "id", "g", k = 7)
      .as[(Long, String)].collect().toSet
    assert(s1.size == 28)
    assert(s1.groupBy(_._2).forall(_._2.size == 7))
    // retry-stable: identical on recompute
    val s2 = Curation.samplePerGroup(d, "id", "g", k = 7)
      .as[(Long, String)].collect().toSet
    assert(s1 == s2)
    // a different seed draws a different sample
    val s3 = Curation.samplePerGroup(d, "id", "g", k = 7, seed = 99L)
      .as[(Long, String)].collect().toSet
    assert(s1 != s3)
    // groups smaller than k keep everything
    val tiny = Curation.samplePerGroup(d.filter($"id" <= 3), "id", "g", k = 7)
      .as[(Long, String)].collect().toSet
    assert(tiny.map(_._1) == Set(1L, 2L, 3L))
  }

  test("samplePerGroup prunes map-side via WindowGroupLimit") {
    val d = (1 to 50).map(i => (i.toLong, s"g${i % 2}")).toDF("id", "g")
    val plan = Curation.samplePerGroup(d, "id", "g", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$plan")
  }

  // id-ordered hasher so expected survivors are hand-computable
  private val idOrderHasher: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
    org.apache.spark.sql.Column = (_, x) => x.cast("long")

  test("mixSources fills each source's allocation in hash order, keeping the straddler") {
    // source a: ids 1-4 with 10 tokens each; source b: ids 5-6 with 40;
    // source c (unweighted): dropped. budget 100, a:0.25 b:0.75 →
    // alloc a=25, b=75.
    val d = Seq(
      (1L, "a", 10L), (2L, "a", 10L), (3L, "a", 10L), (4L, "a", 10L),
      (5L, "b", 40L), (6L, "b", 40L),
      (7L, "c", 99L)).toDF("doc_id", "source", "n_tokens")
    val mixed = Curation.mixSources(
        d, "doc_id", "source", "n_tokens",
        Seq("a" -> 0.25, "b" -> 0.75), tokenBudget = 100L, hasher = idOrderHasher)
      .select("doc_id", "source", "n_tokens", "mix_tokens_before")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    // a: before = 0,10,20 → ids 1,2 kept outright, 3 straddles 25 → kept, 4 dropped
    // b: before = 0,40 → id 5 kept, 6 straddles 75 → kept
    assert(mixed == Seq(
      (1L, "a", 10L, 0L), (2L, "a", 10L, 10L), (3L, "a", 10L, 20L),
      (5L, "b", 40L, 0L), (6L, "b", 40L, 40L)))
  }

  /** 4000 docs over skewed sources: s0 holds 80 %, so it spans several
    * range partitions, while s1 (2.5 %), s2 (12.5 %) and the unweighted
    * s9 are small enough to share one. Token counts 1..60.
    */
  private def skewedSources: DataFrame = spark.range(0, 4000).select(
    col("id").as("doc_id"),
    when(col("id") % 40 < 32, "s0").when(col("id") % 40 === 32, "s1")
      .when(col("id") % 40 < 38, "s2").otherwise("s9").as("source"),
    (pmod(xxhash64(col("id")), lit(60L)) + 1L).as("n_tokens"))

  private def rows(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.collect().sortBy(_.getAs[Long]("doc_id")).toSeq

  /** Build `op` over a cached copy of `df`, drop every cached frame,
    * then execute. */
  private def builtThenUncached(df: DataFrame)(op: DataFrame => DataFrame): DataFrame = {
    val cached = CachedFrames.persistOnce(df)
    cached.count()
    val built = op(cached)
    CachedFrames.unpersistAll()
    built
  }

  test("mixSources is partitioning-independent and retry-stable") {
    val d = docs.limit(300)
      .select(col("doc_id"), col("lang").as("source"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_tokens"))
    val w = Seq("en" -> 0.6, "fr" -> 0.4)
    val base = Curation.mixSources(d, "doc_id", "source", "n_tokens", w, 800L)
      .select("doc_id", "mix_tokens_before")
      .as[(Long, Long)].collect().toSet
    val repartitioned = Curation.mixSources(
        d.repartition(13), "doc_id", "source", "n_tokens", w, 800L)
      .select("doc_id", "mix_tokens_before")
      .as[(Long, Long)].collect().toSet
    assert(base == repartitioned)
    assert(base.nonEmpty)
    // every source's take is allocation-bounded: before < alloc
    val taken = Curation.mixSources(d, "doc_id", "source", "n_tokens", w, 800L)
      .groupBy("source").agg(max("mix_tokens_before")).as[(String, Long)].collect().toMap
    assert(taken("en") < 480 && taken("fr") < 320)
    // row for row against the one-task per-source window, across
    // shuffle layouts, with a cut inside the partition-spanning s0
    val big = skewedSources
    val weights = Seq("s0" -> 0.5, "s1" -> 0.2, "s2" -> 0.3)
    val budget = 40000L
    val allocation = weights.foldLeft(lit(null).cast("long")) { case (c, (s, wt)) =>
      when(col("source") === s, math.floor(budget * wt / weights.map(_._2).sum).toLong)
        .otherwise(c)
    }
    val perSource = Window.partitionBy("source").orderBy("__mix_h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val expected = rows(big
      .filter(col("source").isin(weights.map(_._1): _*))
      .withColumn("__mix_h", TextAnalysis.fastH64(lit("13"), col("doc_id").cast("string")))
      .withColumn("mix_tokens_before", coalesce(sum("n_tokens").over(perSource), lit(0L)))
      .filter(col("mix_tokens_before") < allocation)
      .drop("__mix_h"))
    val kept = expected.groupBy(_.getAs[String]("source")).map { case (s, r) => s -> r.size }
    assert(kept.keySet == Set("s0", "s1", "s2") && kept("s0") < 3200, kept)
    def mix(df: DataFrame): DataFrame =
      Curation.mixSources(df, "doc_id", "source", "n_tokens", weights, budget)
    forEachShuffleLayout { layout => assert(rows(mix(big)) == expected, layout) }
    assert(rows(builtThenUncached(big)(mix)) == expected)
  }

  test("mixSources validates inputs") {
    val d = Seq((1L, "a", 10L)).toDF("doc_id", "source", "n_tokens")
    intercept[IllegalArgumentException] {
      Curation.mixSources(d, "doc_id", "source", "n_tokens", Seq("a" -> 0.5), 0L)
    }
    intercept[IllegalArgumentException] {
      Curation.mixSources(d, "doc_id", "source", "n_tokens",
        Seq("a" -> 0.5, "a" -> 0.5), 10L)
    }
    intercept[IllegalArgumentException] {
      Curation.mixSources(d, "doc_id", "source", "n_tokens", Seq("a" -> -1.0), 10L)
    }
  }

  test("mixSources with no matching sources yields an empty frame, not a failure") {
    val d = Seq((1L, "x", 10L), (2L, "y", 20L)).toDF("doc_id", "source", "n_tokens")
    val out = Curation.mixSources(d, "doc_id", "source", "n_tokens", Seq("z" -> 1.0), 100L)
    assert(out.count() == 0)
    assert(out.columns.contains("mix_tokens_before"))
  }

  test("assignSplitBy: every group lands whole in one split, weights hold over groups") {
    val d = spark.range(0, 5000).select(
      col("id").as("doc_id"),
      concat(lit("site"), (col("id") % 500).cast("string")).as("site"))
    val out = Curation.assignSplitBy(
      d, "site", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 3L)
    // integrity: one distinct split per group — no site straddles
    val perGroup = out.groupBy("site")
      .agg(countDistinct("split").as("k")).agg(max("k")).head().getLong(0)
    assert(perGroup == 1L, "a group straddled splits")
    // proportions apply at GROUP granularity (500 sites, ±5%-ish)
    val sites = out.select("site", "split").distinct()
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(sites("train") > 350 && sites("train") < 450, s"weights off: $sites")
    // rows follow their group deterministically across partitionings
    val again = Curation.assignSplitBy(
        d.repartition(13), "site", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        seed = 3L)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val first = out.select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(again == first)
  }

  test("piiScan: per-column category totals and any-hit rows in one pass") {
    val d = Seq(
      (1L, Option("mail me a@b.co or c@d.io"), Option("10.0.0.1")),
      (2L, Option("clean"), None: Option[String]),
      (3L, None: Option[String], Option("call 555-123-4567 x 9.9.9.9"))
    ).toDF("id", "a", "b")
    val got = Curation.piiScan(d, Seq("a", "b"))
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // a: 2 non-null rows, 2 emails in one row
    assert(got("a") == ((2L, 2L, 0L, 0L, 1L)))
    // b: 2 non-null rows, one ip-only row + one phone+ip row
    assert(got("b") == ((2L, 0L, 2L, 1L, 2L)))
    val plan = Curation.piiScan(d, Seq("a", "b"))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Scan")) == 1,
      s"all columns must scan once:\n$plan")
  }

  test("tokenBudget: prefix within budget kept, exact cumulative audit") {
    val d = Seq(
      (1L, "a", "one two three"),        // 3 tokens, cum 3
      (2L, "a", "four five"),            // 2 tokens, cum 5
      (3L, "a", "six seven eight nine"), // 4 tokens, cum 9 > 6 → dropped
      (4L, "a", "ten"),                  // cum 10 → dropped (no refill)
      (5L, "b", "alpha beta")            // cum 2 ≤ 6 → kept
    ).toDF("doc_id", "source", "text")
    val out = Curation.tokenBudget(d, "text", "source", 6L, col("doc_id"))
      .select("doc_id", "n_tokens", "cum_tokens", "kept")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((3L, 3L, true)))
    assert(out(2L) == ((2L, 5L, true)))
    assert(out(3L) == ((4L, 9L, false)))
    // once crossed, later docs stay dropped even if small (prefix cap,
    // not best-fit packing)
    assert(out(4L) == ((1L, 10L, false)))
    assert(out(5L) == ((2L, 2L, true)))
  }

  test("tokenBudget is partitioning-independent and refuses shadowed columns") {
    val d = spark.range(0, 200).select(
      col("id").as("doc_id"),
      (col("id") % 4).cast("string").as("source"),
      lit("tok tok tok").as("text"))
    val a = Curation.tokenBudget(d, "text", "source", 60L, col("doc_id"))
      .filter(col("kept")).select("doc_id").as[Long].collect().toSet
    val b = Curation.tokenBudget(d.repartition(17), "text", "source", 60L, col("doc_id"))
      .filter(col("kept")).select("doc_id").as[Long].collect().toSet
    assert(a == b)
    // 60-token budget = 20 docs of 3 tokens per source, 4 sources
    assert(a.size == 80)
    val clash = d.withColumn("cum_tokens", lit(1L))
    val e = intercept[IllegalArgumentException] {
      Curation.tokenBudget(clash, "text", "source", 10L, col("doc_id"))
    }
    assert(e.getMessage.contains("cum_tokens"))
  }

  test("weightedSample: deterministic, weight-proportional, bounded to k") {
    val d = spark.range(0, 1000).select(
      col("id").as("doc_id"),
      // ids < 100 carry 50x the weight of the rest
      when(col("id") < 100, 500L).otherwise(10L).as("w"))
    val got = Curation.weightedSample(d, "doc_id", "w", k = 100, seed = 7L)
      .select("doc_id").as[Long].collect().toSet
    assert(got.size == 100)
    // heavy tenth of rows should dominate the sample (exp race: a
    // 50x weight wins overwhelmingly; loose 3-sigma-ish band)
    val heavy = got.count(_ < 100)
    assert(heavy > 55, s"heavy rows under-sampled: $heavy/100")
    // determinism across partitioning
    val again = Curation.weightedSample(
      d.repartition(13), "doc_id", "w", k = 100, seed = 7L)
      .select("doc_id").as[Long].collect().toSet
    assert(again == got)
    // different seed draws a different sample
    val reseeded = Curation.weightedSample(d, "doc_id", "w", k = 100, seed = 8L)
      .select("doc_id").as[Long].collect().toSet
    assert(reseeded != got)
    // NULL / non-positive weights never win
    val mixed = Seq((1L, Option(5L)), (2L, None), (3L, Option(0L)), (4L, Option(-1L)))
      .toDF("doc_id", "w")
    val win = Curation.weightedSample(mixed, "doc_id", "w", k = 10)
      .select("doc_id").as[Long].collect().toSeq
    assert(win == Seq(1L))
    // output-column shadow rejected
    intercept[IllegalArgumentException] {
      Curation.weightedSample(d.withColumn("skey", lit(1)), "doc_id", "w", 5)
    }
  }

  // X57 — line-level boilerplate removal ------------------------------

  /** 100 docs: chrome on every page, unique body, footer in half. */
  private def pages = spark.range(0, 100).select(
    col("id").as("doc_id"),
    concat_ws("\n",
      lit("nav home about"),
      concat(lit("unique body line "), col("id").cast("string")),
      when(col("id") % 2 === 0, "even footer promo").otherwise(
        concat(lit("odd body tail "), col("id").cast("string")))
    ).as("text"))

  test("dedupLines strips over-threshold lines, keeps order, counts both sides") {
    val out = Curation.dedupLines(pages, "text", "doc_id", maxDocs = 30)
    assert(out.count() == 100) // every doc survives, even if emptied
    val even = out.filter(col("doc_id") === 4).collect().head
    // chrome (100 docs) and even-footer (50 docs) banned; body kept
    assert(even.getAs[String]("clean_text") == "unique body line 4")
    assert(even.getAs[Long]("n_kept") == 1 && even.getAs[Long]("n_dropped") == 2)
    val odd = out.filter(col("doc_id") === 5).collect().head
    // odd tails are unique → kept, in original order
    assert(odd.getAs[String]("clean_text") == "unique body line 5\nodd body tail 5")
    assert(odd.getAs[Long]("n_kept") == 2 && odd.getAs[Long]("n_dropped") == 1)
  }

  test("dedupLines keeps a fully-boilerplate doc as an empty row") {
    val d = spark.range(0, 50).select(
      col("id").as("doc_id"),
      lit("same line everywhere").as("text"))
    val out = Curation.dedupLines(d, "text", "doc_id", maxDocs = 10)
    assert(out.count() == 50)
    val r = out.filter(col("doc_id") === 7).collect().head
    assert(r.getAs[String]("clean_text") == "")
    assert(r.getAs[Long]("n_kept") == 0 && r.getAs[Long]("n_dropped") == 1)
  }

  test("dedupLines is partitioning-independent and threshold-boundary-exact") {
    val out1 = Curation.dedupLines(pages, "text", "doc_id", maxDocs = 30)
    val out2 = Curation.dedupLines(pages.repartition(13), "text", "doc_id", maxDocs = 30)
    assert(out1.except(out2).isEmpty && out2.except(out1).isEmpty)
    // threshold is strict (> maxDocs): at exactly 50 the even footer survives
    val atBoundary = Curation.dedupLines(pages, "text", "doc_id", maxDocs = 50)
    val even = atBoundary.filter(col("doc_id") === 4).collect().head
    assert(even.getAs[String]("clean_text") == "unique body line 4\neven footer promo")
  }

  test("lineDocFrequency reports exact per-line document counts") {
    val freq = Curation.lineDocFrequency(pages, "text", "doc_id")
      .filter(col("n_docs") > 1)
      .as[(String, Long)].collect().toMap
    assert(freq == Map("nav home about" -> 100L, "even footer promo" -> 50L))
    // repeated line inside ONE doc counts once
    val d = Seq((1L, "dup\ndup\nother"), (2L, "dup\nx")).toDF("doc_id", "text")
    val f2 = Curation.lineDocFrequency(d, "text", "doc_id")
      .as[(String, Long)].collect().toMap
    assert(f2("dup") == 2L)
  }

  test("dedupLines rejects frames carrying its reserved staging/output columns") {
    val bad = Seq((1L, "a\nb", 0)).toDF("doc_id", "text", "n_kept")
    val e = intercept[IllegalArgumentException] {
      Curation.dedupLines(bad, "text", "doc_id", maxDocs = 1)
    }
    assert(e.getMessage.contains("n_kept"))
  }

  test("mixSources rejects frames carrying its reserved staging/output columns") {
    val staged = Seq((1L, "a", 10L, 7L)).toDF("doc_id", "source", "n_tokens", "__mix_h")
    val e1 = intercept[IllegalArgumentException] {
      Curation.mixSources(staged, "doc_id", "source", "n_tokens", Seq("a" -> 1.0), 10L)
    }
    assert(e1.getMessage.contains("__mix_h"))
    val out = Seq((1L, "a", 10L, 7L)).toDF("doc_id", "source", "n_tokens", "mix_tokens_before")
    val e2 = intercept[IllegalArgumentException] {
      Curation.mixSources(out, "doc_id", "source", "n_tokens", Seq("a" -> 1.0), 10L)
    }
    assert(e2.getMessage.contains("mix_tokens_before"))
  }

  test("chunkDocuments: stepped starts, shared overlap, exact tail") {
    // 10 tokens, chunk 4, overlap 2 → starts 0, 2, 4, 6; start 8 would
    // add nothing past position 9... wait, 8+2=10 is NOT < 10 → dropped
    val doc = Seq((0L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")).toDF("doc_id", "text")
    val chunks = Curation.chunkDocuments(doc, "text", "doc_id", chunkTokens = 4, overlapTokens = 2)
      .orderBy("chunk_id")
      .select("chunk_id", "start_tok", "chunk_tokens", "chunk_text")
      .as[(Int, Int, Int, String)].collect().toSeq
    assert(chunks == Seq(
      (0, 0, 4, "t0 t1 t2 t3"),
      (1, 2, 4, "t2 t3 t4 t5"),
      (2, 4, 4, "t4 t5 t6 t7"),
      (3, 6, 4, "t6 t7 t8 t9")))
    // every consecutive pair shares exactly the overlap
    chunks.sliding(2).foreach { case Seq(a, b) =>
      val at = a._4.split(' '); val bt = b._4.split(' ')
      assert(at.takeRight(2).sameElements(bt.take(2)))
    }
  }

  test("chunkDocuments: every token appears in some chunk; trailing no-new-token chunk dropped") {
    // 9 tokens, chunk 4, overlap 2 → starts 0, 2, 4, 6 (start 8: 8+2 >= 9? no — 10 >= 9 → dropped);
    // start 6 covers tokens 6..8 as a short 3-token tail
    val doc = Seq((0L, "a b c d e f g h i")).toDF("doc_id", "text")
    val chunks = Curation.chunkDocuments(doc, "text", "doc_id", 4, 2)
      .orderBy("chunk_id").select("start_tok", "chunk_tokens", "chunk_text")
      .as[(Int, Int, String)].collect().toSeq
    assert(chunks.last == ((6, 3, "g h i")))
    val covered = chunks.flatMap { case (s, n, _) => s until (s + n) }.toSet
    assert(covered == (0 until 9).toSet)
    // a doc shorter than one chunk is exactly one whole chunk
    val short = Seq((1L, "x y")).toDF("doc_id", "text")
    val one = Curation.chunkDocuments(short, "text", "doc_id", 4, 2).collect()
    assert(one.length == 1 && one.head.getAs[String]("chunk_text") == "x y"
      && one.head.getAs[Int]("chunk_tokens") == 2)
  }

  test("chunkDocuments: empty text is one empty-token chunk, NULL text vanishes, no zero-token chunks") {
    // split-with-trailing-empties tokenizes "" as [""] (same in DuckDB):
    // an empty doc is one 1-token chunk of the empty token, never a
    // chunk_tokens=0 row; a NULL doc explodes to nothing.
    val docs = Seq((0L, ""), (2L, "a b c")).toDF("doc_id", "text")
      .union(Seq(Tuple1(1L)).toDF("doc_id").withColumn("text", lit(null: String)))
    val chunks = Curation.chunkDocuments(docs, "text", "doc_id", 2, 0)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_tokens", "chunk_text")
      .as[(Long, Int, String)].collect().toSeq
    assert(chunks.forall(_._2 > 0))
    assert(chunks.filter(_._1 == 0L) == Seq((0L, 1, "")))
    assert(!chunks.exists(_._1 == 1L))
    assert(chunks.filter(_._1 == 2L).map(_._3) == Seq("a b", "c"))
  }

  test("chunkDocuments validates its knobs") {
    val doc = Seq((0L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Curation.chunkDocuments(doc, "text", "doc_id", 0, 0)
    }
    intercept[IllegalArgumentException] {
      Curation.chunkDocuments(doc, "text", "doc_id", 4, 4)
    }
    intercept[IllegalArgumentException] {
      Curation.chunkDocuments(doc, "text", "doc_id", 4, -1)
    }
  }

  test("kAnonymity: min class size, risk classes, NULL is a value") {
    val rows = Seq(
      ("10001", Some(34), "a"), ("10001", Some(34), "b"), ("10001", Some(34), "c"),
      ("10002", Some(55), "d"), ("10002", Some(55), "e"),
      ("10003", None, "f"), ("10003", None, "g"), ("10003", None, "h"),
      ("10004", Some(21), "i")
    ).toDF("zip", "age", "payload")
    val cls = Curation.kAnonymityClasses(rows, Seq("zip", "age"), k = 3L)
    assert(cls.count() == 4)
    // the two NULL-age rows of zip 10003 form ONE class of 3 (null == null for grouping)
    val nullClass = cls.filter(col("zip") === "10003").head()
    assert(nullClass.getAs[Long]("n") == 3L && !nullClass.getAs[Boolean]("at_risk"))
    val rep = Curation.kAnonymityReport(rows, Seq("zip", "age"), k = 3L).head()
    assert(rep.getAs[Long]("k_anonymity") == 1L)
    assert(rep.getAs[Long]("n_classes") == 4L && rep.getAs[Long]("n_rows") == 9L)
    assert(rep.getAs[Long]("risk_classes") == 2L && rep.getAs[Long]("risk_rows") == 3L)
  }

  test("lDiversity: large classes can still be at risk; NULL sensitive is a value") {
    val rows = Seq(
      // class A: 4 rows, all the same diagnosis — k-anonymous, NOT l-diverse
      ("10001", "flu", "a"), ("10001", "flu", "b"),
      ("10001", "flu", "c"), ("10001", "flu", "d"),
      // class B: 3 rows, 3 distinct values — diverse
      ("10002", "flu", "e"), ("10002", "cold", "f"), ("10002", "none", "g"),
      // class C: NULL and a value → 2 distinct (NULL counts)
      ("10003", null, "h"), ("10003", "flu", "i")
    ).toDF("zip", "diagnosis", "payload")
    val cls = Curation.lDiversityClasses(rows, Seq("zip"), "diagnosis", l = 2L)
      .collect().map(r => r.getAs[String]("zip") ->
        (r.getAs[Long]("n"), r.getAs[Long]("distinct_sensitive"),
         r.getAs[Boolean]("at_risk"))).toMap
    assert(cls("10001") == ((4L, 1L, true)))
    assert(cls("10002") == ((3L, 3L, false)))
    assert(cls("10003") == ((2L, 2L, false)))
  }

  test("tCloseness: exact total-variation distances, absent-value mass included") {
    // global: 7×A, 3×B. class X = 4×A → 0.5·(|1−0.7| + 0.3 absent) = 0.3
    // class Y = 3×A + 3×B → 0.5·(|0.5−0.7| + |0.5−0.3|) = 0.2
    val rows = Seq(
      ("X", "A"), ("X", "A"), ("X", "A"), ("X", "A"),
      ("Y", "A"), ("Y", "A"), ("Y", "A"), ("Y", "B"), ("Y", "B"), ("Y", "B")
    ).toDF("zip", "diag")
    val r = Curation.tClosenessClasses(rows, Seq("zip"), "diag", t = 0.25)
      .collect().map(x => x.getAs[String]("zip") ->
        (x.getAs[Long]("n"), x.getAs[Double]("distance"), x.getAs[Boolean]("at_risk"))).toMap
    assert(r("X") == ((4L, 0.3, true)))
    assert(r("Y") == ((6L, 0.2, false)))
  }

  test("tCloseness: a class mirroring the global distribution scores zero; NULL is a value") {
    val rows = Seq(
      ("X", Some("A")), ("X", None), ("Y", Some("A")), ("Y", None)
    ).toDF("zip", "diag")
    // both classes are 1×A + 1×NULL = exactly the global 50/50 → 0.0
    val r = Curation.tClosenessClasses(rows, Seq("zip"), "diag", t = 0.1)
      .collect().map(x => x.getAs[String]("zip") -> x.getAs[Double]("distance")).toMap
    assert(r == Map("X" -> 0.0, "Y" -> 0.0))
  }

  test("pseudonymizeColumns: joinability survives, values don't, NULL stays NULL") {
    val a = Seq((1L, "alice@x.com"), (2L, "bob@y.org"), (3L, null)).toDF("id", "email")
    val b = Seq((10L, "alice@x.com"), (11L, "carol@z.net")).toDF("uid", "email")
    val pa = Curation.pseudonymizeColumns(a, Seq("email"), "k1")
    val pb = Curation.pseudonymizeColumns(b, Seq("email"), "k1")
    // raw values are gone
    assert(pa.filter(col("email").contains("@")).isEmpty)
    // NULL propagates, not a fabricated token
    assert(pa.filter(col("id") === 3L).head().isNullAt(1))
    // equal values under one secret still join across tables
    val joined = pa.join(pb, Seq("email")).select("id", "uid")
      .as[(Long, Long)].collect().toSet
    assert(joined == Set((1L, 10L)))
    // a different secret yields disjoint tokens (no cross-release linkage)
    val pc = Curation.pseudonymizeColumns(b, Seq("email"), "k2")
    assert(pb.join(pc, Seq("email")).isEmpty)
    intercept[IllegalArgumentException] {
      Curation.pseudonymizeColumns(a, Seq("email"), "")
    }
    intercept[IllegalArgumentException] {
      Curation.pseudonymizeColumns(a, Seq("nope"), "k")
    }
  }

  test("tCloseness validates its knobs") {
    val rows = Seq(("a", "x")).toDF("zip", "diag")
    intercept[IllegalArgumentException] {
      Curation.tClosenessClasses(rows, Seq(), "diag", 0.2)
    }
    intercept[IllegalArgumentException] {
      Curation.tClosenessClasses(rows, Seq("zip", "diag"), "diag", 0.2)
    }
    intercept[IllegalArgumentException] {
      Curation.tClosenessClasses(rows, Seq("zip"), "diag", 1.5)
    }
    val clash = Seq(("a", "x")).toDF("n", "diag")
    intercept[IllegalArgumentException] {
      Curation.tClosenessClasses(clash, Seq("n"), "diag", 0.2)
    }
  }

  test("lDiversity validates its knobs") {
    val rows = Seq(("a", "x", 1)).toDF("zip", "diag", "v")
    intercept[IllegalArgumentException] {
      Curation.lDiversityClasses(rows, Seq(), "diag", 2L)
    }
    intercept[IllegalArgumentException] {
      Curation.lDiversityClasses(rows, Seq("zip", "diag"), "diag", 2L)
    }
    intercept[IllegalArgumentException] {
      Curation.lDiversityClasses(rows, Seq("zip"), "diag", 1L)
    }
  }

  test("CLI privacy pipeline: triad report written, risky classes fail after the write") {
    val dir = java.nio.file.Files.createTempDirectory("privacy").toString
    // zip 10001: 4 rows but ONE diagnosis → k passes, l fails
    // zip 10002: 1 row → k fails
    Seq(
      ("10001", "flu"), ("10001", "flu"), ("10001", "flu"), ("10001", "flu"),
      ("10002", "cold")
    ).toDF("zip", "diagnosis").write.mode("overwrite").parquet(s"$dir/in")
    val args = Map("pipeline" -> "privacy", "input" -> s"$dir/in",
      "output" -> s"$dir/report", "qid_columns" -> "zip",
      "sensitive_column" -> "diagnosis", "k" -> "2", "l" -> "2", "t" -> "0.9")
    val e = intercept[RuntimeException] { graft.Main.run(spark, args) }
    assert(e.getMessage.contains("2 quasi-identifier classes at risk"))
    // the report landed BEFORE the failure — gate semantics
    val byZip = spark.read.parquet(s"$dir/report")
      .collect().map(r => r.getAs[String]("zip") ->
        (r.getAs[Boolean]("k_risk"), r.getAs[Boolean]("l_risk"))).toMap
    assert(byZip("10001") == ((false, true)))
    assert(byZip("10002")._1)
    // k-only mode (no sensitive column) + non-failing mode
    val ok = graft.Main.run(spark, Map("pipeline" -> "privacy",
      "input" -> s"$dir/in", "output" -> s"$dir/report2",
      "qid_columns" -> "zip", "k" -> "2", "fail_on_violation" -> "false"))
    assert(ok.columns.contains("k_risk") && !ok.columns.contains("l_risk"))
    assert(ok.count() == 2)
  }

  test("kAnonymity validates its knobs") {
    val rows = Seq(("a", 1)).toDF("zip", "age")
    intercept[IllegalArgumentException] {
      Curation.kAnonymityClasses(rows, Seq(), 3L)
    }
    intercept[IllegalArgumentException] {
      Curation.kAnonymityReport(rows, Seq("zip"), 1L)
    }
  }

  // ---- X106 DP histogram release ------------------------------------

  private def dpInput = {
    import spark.implicits._
    // 1000 values in [0, 100): heavy bucket 0-10, empty tail
    (0 until 1000).map(i => (i.toLong, (i % 50).toDouble / 5.0)).toDF("id", "v")
  }

  test("dpHistogram: full-spine release, clamped, deterministic per secret") {
    val rel = Curation.dpHistogram(dpInput, col("v"), 0.0, 100.0, 20, epsilon = 1.0, secret = "s1")
      .orderBy("bucket").collect()
    // every grid bucket is released — including the empty tail
    // (occupied-only release would leak the support set)
    assert(rel.map(_.getLong(0)).toSeq == (0L until 20L))
    assert(rel.forall(_.getDouble(3) >= 0.0), "non-negativity clamp")
    // empty buckets carry pure noise, not structural zero
    val tail = rel.filter(_.getLong(0) >= 2)
    assert(tail.exists(_.getDouble(3) > 0.0), "empty buckets must be noised")
    // determinism: same secret → identical release; fresh secret → different
    val rel2 = Curation.dpHistogram(dpInput, col("v"), 0.0, 100.0, 20, 1.0, "s1")
      .orderBy("bucket").collect()
    assert(rel.map(_.getDouble(3)).toSeq == rel2.map(_.getDouble(3)).toSeq)
    val rel3 = Curation.dpHistogram(dpInput, col("v"), 0.0, 100.0, 20, 1.0, "s2")
      .orderBy("bucket").collect()
    assert(rel.map(_.getDouble(3)).toSeq != rel3.map(_.getDouble(3)).toSeq)
  }

  test("dpHistogram: noise scales with 1/epsilon and stays Laplace-bounded") {
    def errs(eps: Double) = {
      val truth = Map(0L -> 500L, 1L -> 500L) // v in [0,10) → buckets 0 and 1
      Curation.dpHistogram(dpInput, col("v"), 0.0, 100.0, 20, eps, "s1")
        .orderBy("bucket").collect()
        .map(r => math.abs(r.getDouble(3) - truth.getOrElse(r.getLong(0), 0L).toDouble))
    }
    val loose = errs(0.1) // b = 10
    val tight = errs(10.0) // b = 0.1
    assert(tight.sum < loose.sum, s"ε=10 total error ${tight.sum} vs ε=0.1 ${loose.sum}")
    // Laplace tail: |noise| ≤ b·ln(2^53) ≈ 36.7·b before the clamp
    assert(tight.forall(_ <= 0.1 * 37), s"ε=10 outlier: ${tight.max}")
    assert(loose.forall(_ <= 10.0 * 37), s"ε=0.1 outlier: ${loose.max}")
  }

  // ---- X108 filter evaluation --------------------------------------

  test("binaryEval: known AUCs — separation 1, inversion 0, all-tied ½, ties half-credit") {
    def auc(rows: Seq[(Double, Boolean)]): Option[Double] = {
      val r = Curation.binaryEval(rows.toDF("s", "y"), col("s"), col("y")).head()
      if (r.isNullAt(2)) None else Some(r.getDouble(2))
    }
    // perfect separation and its inversion
    assert(auc(Seq((1.0, true), (2.0, true), (0.1, false), (0.2, false))).contains(1.0))
    assert(auc(Seq((0.1, true), (0.2, true), (1.0, false), (2.0, false))).contains(0.0))
    // every score tied → exactly ½ (the tie credit, not an accident)
    assert(auc(Seq((5.0, true), (5.0, true), (5.0, false))).contains(0.5))
    // one tied pair gets half credit: pairs = (1t,0f)✓ + (1t,1f=tie ½)
    // + (2t over both ✓✓) → (1 + 0.5 + 2) / (2·2) = 0.875
    assert(auc(Seq((1.0, true), (1.0, false), (0.0, false), (2.0, true))).contains(0.875))
    // degenerate single-class inputs yield NULL, not ±∞/NaN
    assert(auc(Seq((1.0, true), (2.0, true))).isEmpty)
    assert(auc(Seq.empty[(Double, Boolean)]).isEmpty)
    // NULL/NaN hygiene: excluded rows don't poison the statistic
    val messy = Seq(
      (java.lang.Double.valueOf(1.0), java.lang.Boolean.TRUE),
      (java.lang.Double.valueOf(Double.NaN), java.lang.Boolean.TRUE),
      (null.asInstanceOf[java.lang.Double], java.lang.Boolean.FALSE),
      (java.lang.Double.valueOf(0.0), java.lang.Boolean.FALSE))
      .toDF("s", "y")
    val m = Curation.binaryEval(messy, col("s"), col("y")).head()
    assert(m.getLong(0) == 1L && m.getLong(1) == 1L && m.getDouble(2) == 1.0)
  }

  test("binaryEvalBy: per-group AUCs are independent; single-class groups are NULL") {
    // g1 perfectly separated, g2 perfectly inverted, g3 single-class:
    // a global AUC would average the story away; the slices tell it
    val d = Seq(
      ("g1", 2.0, true), ("g1", 1.5, true), ("g1", 0.5, false),
      ("g2", 0.1, true), ("g2", 0.9, false),
      ("g3", 1.0, true), ("g3", 2.0, true)
    ).toDF("g", "s", "y")
    val rows = Curation.binaryEvalBy(d, Seq("g"), col("s"), col("y"))
      .orderBy("g").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("g1", "g2", "g3"))
    assert(rows(0).getDouble(3) == 1.0 && rows(1).getDouble(3) == 0.0)
    assert(rows(2).isNullAt(3) && rows(2).getLong(1) == 2L && rows(2).getLong(2) == 0L)
    // one group ≡ the global statistic
    val one = Curation.binaryEvalBy(
      d.filter(col("g") === "g1").withColumn("k", lit("all")),
      Seq("k"), col("s"), col("y")).head()
    val global = Curation.binaryEval(
      d.filter(col("g") === "g1"), col("s"), col("y")).head()
    assert(one.getDouble(3) == global.getDouble(2))
    intercept[IllegalArgumentException] {
      Curation.binaryEvalBy(d, Seq.empty, col("s"), col("y"))
    }
  }

  test("binaryEvalBy: the cumulative window is partitioned by the group columns") {
    val d = Seq(("g1", 1.0, true), ("g2", 0.5, false)).toDF("g", "s", "y")
    val plan = Curation.binaryEvalBy(d, Seq("g"), col("s"), col("y"))
      .queryExecution.executedPlan.toString
    // the Window NODE's own spec must name the group column —
    // windowspecdefinition(g#N, __s#N ...). Checking the surrounding
    // exchanges would pass vacuously (the groupBys hash-partition on g
    // regardless of how the window is specified).
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, s"no window in plan:\n$plan")
    assert(windows.forall(_.contains("windowspecdefinition(g#")),
      s"expected the window spec itself partitioned by g, not a global window:\n$plan")
    // reserved-name guard (the mixSources convention)
    intercept[IllegalArgumentException] {
      Curation.binaryEvalBy(
        d.withColumnRenamed("g", "n_pos"), Seq("n_pos"), col("s"), col("y"))
    }
  }

  test("prCurve: hand-checked confusion counts per threshold; degenerate input is empty") {
    val rows = Seq(
      (0.9, true), (0.9, false), (0.7, true), (0.5, false), (0.3, true))
      .toDF("s", "y")
    val got = Curation.prCurve(rows, col("s"), col("y"))
      .orderBy(col("threshold").desc).collect()
    // thresholds 0.9, 0.7, 0.5, 0.3 → tp/fp cumulate from the top
    val expect = Seq(
      (0.9, 1L, 1L, 0.5, 1.0 / 3, 0.4),
      (0.7, 2L, 1L, 2.0 / 3, 2.0 / 3, 2.0 / 3),
      (0.5, 2L, 2L, 0.5, 2.0 / 3, 4.0 / 7),
      (0.3, 3L, 2L, 0.6, 1.0, 0.75))
    assert(got.length == 4)
    got.zip(expect).foreach { case (r, (t, tp, fp, p, rc, f1)) =>
      assert(r.getDouble(0) == t && r.getLong(1) == tp && r.getLong(2) == fp)
      assert(r.getDouble(3) == math.rint(p * 1e6) / 1e6, s"precision at $t")
      assert(r.getDouble(4) == math.rint(rc * 1e6) / 1e6, s"recall at $t")
      assert(r.getDouble(5) == math.rint(f1 * 1e6) / 1e6, s"f1 at $t")
    }
    // no positives → empty frame, not division noise
    val neg = Seq((1.0, false), (2.0, false)).toDF("s", "y")
    assert(Curation.prCurve(neg, col("s"), col("y")).isEmpty)
  }

  test("temperatureWeights: T=1 reproduces natural shares; T=2 replays the quantized math") {
    val d = Seq(("a", 1L), ("b", 2L), ("b", 1L)).toDF("source", "n") // a:1, b:3 of 4
    val t1 = Curation.temperatureWeights(d, "source", "n", temperature = 1.0)
      .orderBy("source").collect()
    t1.foreach { r =>
      assert(r.getDouble(2) == r.getDouble(3), s"T=1 weight == share for ${r.getString(0)}")
      assert(r.getDouble(4) == 1.0, s"T=1 oversample 1 for ${r.getString(0)}")
    }
    // T=2: exact replay of the 1e-12 fixed-point pipeline
    def wq(p: Double): Long = math.round(math.sqrt(p) * 1e12)
    val (wa, wb) = (wq(0.25), wq(0.75))
    val sumw = wa + wb
    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    val t2 = Curation.temperatureWeights(d, "source", "n", temperature = 2.0)
      .orderBy("source").collect()
    assert(t2(0).getDouble(3) == r6(wa.toDouble / sumw.toDouble))
    assert(t2(1).getDouble(3) == r6(wb.toDouble / sumw.toDouble))
    assert(t2(0).getDouble(4) == r6((wa.toDouble * 4.0) / (sumw.toDouble * 1.0)))
    // flattening: the minority source's weight grows with T, toward uniform
    val t4 = Curation.temperatureWeights(d, "source", "n", temperature = 4.0)
      .orderBy("source").head()
    assert(0.25 < t2(0).getDouble(3) && t2(0).getDouble(3) < t4.getDouble(3))
    assert(t4.getDouble(3) < 0.5)
    // weights sum to 1 within rounding
    assert(math.abs(t2.map(_.getDouble(3)).sum - 1.0) < 2e-6)
    intercept[IllegalArgumentException] {
      Curation.temperatureWeights(d, "source", "n", temperature = 0.0)
    }
  }

  test("temperatureWeights composes into mixSources: the derived blend fills each allocation") {
    try {
      // skewed corpus: source a dwarfs b, c is EMPTY (zero tokens);
      // T=2 boosts b's slice of the mix
      val d = ((1 to 300).map(i => (i.toLong, if (i <= 270) "a" else "b", 10L)) :+
        (301L, "c", 0L)).toDF("doc_id", "source", "n_tokens")
      val all = Curation.temperatureWeights(d, "source", "n_tokens", temperature = 2.0)
        .select("source", "weight").as[(String, Double)].collect().toSeq // |sources| rows
      // the zero-token source's 0.0 weight violates mixSources'
      // positive-weights contract by design — the composition filters
      intercept[IllegalArgumentException] {
        Curation.mixSources(d, "doc_id", "source", "n_tokens", all, 1000L)
      }
      val w = all.filter(_._2 > 0)
      val budget = 1000L
      val mixed = Curation.mixSources(d, "doc_id", "source", "n_tokens", w, budget)
      val taken = mixed.groupBy("source").agg(sum("n_tokens").as("t"))
        .as[(String, Long)].collect().toMap
      val totalW = w.map(_._2).sum
      w.foreach { case (s, wt) =>
        val alloc = math.floor(budget * wt / totalW).toLong
        // allocation filled, straddler convention bounds the overshoot
        assert(taken(s) >= alloc && taken(s) < alloc + 10L,
          s"source $s took ${taken(s)} of alloc $alloc")
      }
      // the temperature did its job: b exceeds its 10% natural share of the blend
      assert(taken("b").toDouble / taken.values.sum > 0.2)
    } finally graft.CachedFrames.unpersistAll()
  }

  test("temperatureWeights: zero-token sources and empty input degrade to NULL, not a crash") {
    val d = Seq(("a", 0L), ("b", 2L)).toDF("source", "n")
    val rows = Curation.temperatureWeights(d, "source", "n", temperature = 2.0)
      .orderBy("source").collect()
    assert(rows(0).getDouble(3) == 0.0 && rows(0).isNullAt(4),
      "a zero-token source weighs 0 with an undefined oversample")
    assert(rows(1).getDouble(4) > 0.0)
    val empty = Seq.empty[(String, Long)].toDF("source", "n")
    assert(Curation.temperatureWeights(empty, "source", "n", 2.0).isEmpty)
  }

  test("calibration: hand-checked bins — calibrated fixture gaps 0, inverted fixture gap 0.9") {
    // perfectly calibrated: bin 2 (4 rows @0.25, 1 pos), bin 7 (4 @0.75, 3 pos)
    val cal = (Seq.fill(3)((0.25, false)) ++ Seq((0.25, true)) ++
      Seq.fill(3)((0.75, true)) ++ Seq((0.75, false))).toDF("s", "y")
    val t = Curation.calibration(cal, col("s"), col("y")).orderBy("bin").collect()
    assert(t.map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSeq ==
      Seq((2L, 4L, 1L), (7L, 4L, 3L)))
    t.foreach { r =>
      assert(r.getDouble(5) == r.getDouble(6), s"mean == rate in bin ${r.getLong(0)}")
      assert(r.getDouble(7) == 0.0, s"gap 0 in bin ${r.getLong(0)}")
    }
    val e = Curation.calibrationError(cal, col("s"), col("y")).head()
    assert(e.getLong(0) == 8L && e.getLong(1) == 4L)
    assert(e.getDouble(2) == 0.0 && e.getDouble(3) == 0.0)
    // anti-calibrated: confident-wrong both ways → every gap 0.9
    val inv = Seq((0.9, false), (0.9, false), (0.1, true), (0.1, true)).toDF("s", "y")
    val ti = Curation.calibration(inv, col("s"), col("y")).orderBy("bin").collect()
    assert(ti.map(_.getDouble(7)).toSeq == Seq(0.9, 0.9))
    val ei = Curation.calibrationError(inv, col("s"), col("y")).head()
    assert(ei.getDouble(2) == 0.9 && ei.getDouble(3) == 0.9)
  }

  test("calibration: clamping, quantization, NULL/NaN hygiene, degenerate input, knobs") {
    // out-of-range scores clamp into the edge bins; exactly 1.0 stays in the last
    val edges = Seq((-0.5, false), (1.7, true), (1.0, true)).toDF("s", "y")
    val te = Curation.calibration(edges, col("s"), col("y")).orderBy("bin").collect()
    assert(te.map(r => (r.getLong(0), r.getLong(3))).toSeq == Seq((0L, 1L), (9L, 2L)))
    assert(te(0).getDouble(5) == 0.0 && te(1).getDouble(5) == 1.0)
    // scores quantize to 1e-4 before averaging (round-half-up at the 4th decimal)
    val q = Curation.calibration(
      Seq((0.123456, true)).toDF("s", "y"), col("s"), col("y")).head()
    assert(q.getDouble(5) == 0.1235)
    // NULL/NaN scores and NULL labels are excluded, not binned
    val messy = Seq(
      (java.lang.Double.valueOf(0.5), java.lang.Boolean.TRUE),
      (java.lang.Double.valueOf(Double.NaN), java.lang.Boolean.TRUE),
      (null.asInstanceOf[java.lang.Double], java.lang.Boolean.FALSE),
      (java.lang.Double.valueOf(0.5), null.asInstanceOf[java.lang.Boolean]))
      .toDF("s", "y")
    val tm = Curation.calibration(messy, col("s"), col("y")).collect()
    assert(tm.length == 1 && tm(0).getLong(3) == 1L)
    // empty input: empty table; error row degrades to (0, 0, NULL, NULL)
    val empty = Seq.empty[(Double, Boolean)].toDF("s", "y")
    assert(Curation.calibration(empty, col("s"), col("y")).isEmpty)
    val ee = Curation.calibrationError(empty, col("s"), col("y")).head()
    assert(ee.getLong(0) == 0L && ee.getLong(1) == 0L && ee.isNullAt(2) && ee.isNullAt(3))
    intercept[IllegalArgumentException] {
      Curation.calibration(empty, col("s"), col("y"), nBins = 1)
    }
  }

  test("calibration is one map-side-combined aggregation pass over one scan") {
    val d = Seq((0.25, true), (0.75, false)).toDF("s", "y")
    val plan = Curation.calibration(d, col("s"), col("y"))
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan"))
    assert(scans == 1, s"expected a single scan, got $scans:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected one shuffle (partial → final agg), got $exchanges:\n$plan")
    assert(plan.contains("partial_"), s"expected map-side partial aggregation:\n$plan")
  }

  test("dpHistogram: threshold prunes small noisy cells; knob validation") {
    val all = Curation.dpHistogram(dpInput, col("v"), 0.0, 100.0, 20, 1.0, "s1")
    val pruned = Curation.dpHistogram(dpInput, col("v"), 0.0, 100.0, 20, 1.0, "s1", threshold = 50.0)
    assert(pruned.count() < all.count())
    assert(pruned.agg(min("released")).head().getDouble(0) >= 50.0)
    intercept[IllegalArgumentException] {
      Curation.dpHistogram(dpInput, col("v"), 0.0, 100.0, 20, epsilon = 0.0, "s")
    }
    intercept[IllegalArgumentException] {
      Curation.dpHistogram(dpInput, col("v"), 0.0, 100.0, 20, 1.0, "s", threshold = -1.0)
    }
  }
}
