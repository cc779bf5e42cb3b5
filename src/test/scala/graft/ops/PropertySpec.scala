package graft.ops

import graft.{CachedFrames, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based pins for the operator invariants that must hold on
  * ANY input, not just the fixtures: the reference's no-new-NULLs
  * casting rule, dedup idempotence, dense-id contract, winnowing's
  * shared-substring guarantee, and stats bounds.
  *
  * Generators are sampled with fixed seeds (no scalatest-scalacheck
  * bridge in the offline cache), so runs are deterministic; each case
  * builds a DataFrame, so counts are kept small.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n * 4).iterator
      .flatMap(i => g.apply(Gen.Parameters.default.withSize(12), Seed(i.toLong)))
      .take(n)
      .toSeq

  private val word = Gen.oneOf(
    "table", "row", "scan", "join", "agg", "null", "True", "False",
    "{'a': True}", "u'free'", "None", "42", "x")
  private val text = Gen.nonEmptyListOf(word).map(_.mkString(" "))

  test("SafeCast never introduces new NULLs (the reference's core invariant)") {
    samples(Gen.nonEmptyListOf(Gen.option(word)), 8).foreach { values =>
      val df = values.zipWithIndex.map { case (v, i) => (i.toLong, v.orNull) }
        .toDF("id", "c")
      val before = df.filter(col("c").isNull).count()
      val converted =
        SafeCast.convertColumns(df, Seq("c"), SafeCast.yelpAttributeCandidates)
      val after = converted.filter(col("c").isNull).count()
      assert(after <= before, s"cast added NULLs: $before -> $after on $values")
    }
  }

  test("dedupExact is idempotent and keeps one row per distinct text") {
    samples(Gen.nonEmptyListOf(text), 8).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val once = Dedup.dedupExact(df, "t", "id")
      assert(once.count() == texts.distinct.size.toLong)
      assert(Dedup.dedupExact(once, "t", "id").count() == once.count())
    }
  }

  test("withSequentialId assigns a dense 0..n-1 id in key order") {
    samples(Gen.nonEmptyListOf(Gen.choose(-1000L, 1000L)), 8).foreach { keys0 =>
      val keys = keys0.distinct
      val df = keys.map(Tuple1(_)).toDF("k").repartition(3)
      val got = Surrogate.withSequentialId(df, "rid", col("k"))
        .select("rid", "k").as[(Long, Long)].collect().sortBy(_._1)
      assert(got.map(_._1).toSeq == (0L until keys.size.toLong))
      assert(got.map(_._2).toSeq == keys.sorted.toSeq)
    }
    // row for row against the one-task window, on a skewed key that
    // spans several partitions, across shuffle layouts
    val skewed = (0 until 3000).map(i => ((if (i % 10 < 8) 0 else i % 7).toLong, i.toLong))
      .toDF("k", "id")
    val expected = skewed
      .withColumn("rid", row_number().over(Window.orderBy("k", "id")) - 1L)
      .as[(Long, Long, Long)].collect().sortBy(_._3).toSeq
    def rows(df: DataFrame): Seq[(Long, Long, Long)] =
      df.as[(Long, Long, Long)].collect().sortBy(_._3).toSeq
    def ids(df: DataFrame): DataFrame = Surrogate.withSequentialId(df, "rid", col("k"), col("id"))
    forEachShuffleLayout { layout => assert(rows(ids(skewed)) == expected, layout) }
    // built over a cached frame that is dropped before execution
    val cached = CachedFrames.persistOnce(skewed)
    cached.count()
    val built = ids(cached)
    CachedFrames.unpersistAll()
    assert(rows(built) == expected)
  }

  test("winnowing: docs sharing a >= k+w-1 substring share a fingerprint") {
    val chunk = Gen.listOfN(14, Gen.alphaLowerChar).map(_.mkString) // >= k+w-1 = 11
    val cases = samples(Gen.zip(chunk, text, text), 8)
    cases.foreach { case (shared, a, b) =>
      val df = Seq((1L, s"$a $shared"), (2L, s"$shared $b")).toDF("id", "t")
      val fps = TextAnalysis.winnowingFingerprints(df, "id", "t", k = 8, w = 4)
        .as[(Long, Long)].collect()
      val f1 = fps.filter(_._1 == 1L).map(_._2).toSet
      val f2 = fps.filter(_._1 == 2L).map(_._2).toSet
      assert((f1 & f2).nonEmpty, s"no shared fingerprint for shared chunk '$shared'")
    }
  }

  test("stats bounds: 0 <= alpha_ratio <= 1 and n_types <= n_tokens") {
    samples(text, 10).foreach { t =>
      val row = Seq(Tuple1(t)).toDF("text")
        .select(TextAnalysis.stats(col("text")).map { case (n, c) => c.as(n) }: _*)
        .head()
      val alpha = row.getAs[Double]("alpha_ratio")
      assert(alpha >= 0.0 && alpha <= 1.0, s"alpha_ratio $alpha for '$t'")
      assert(row.getAs[Long]("n_types") <= row.getAs[Long]("n_tokens"))
    }
  }

  test("minhash signature slots agree exactly on identical texts") {
    samples(text, 6).foreach { t =>
      val df = Seq((1L, t), (2L, t)).toDF("id", "t")
      val sigs = Dedup.signatures(df, "t", "id").orderBy("id")
        .collect().map(_.getSeq[Long](1))
      assert(sigs(0) == sigs(1))
    }
  }

  test("sessionizeBatch partitions events exactly: counts conserved, session count matches a direct gap count") {
    val gapSec = 600L
    val offsets = Gen.listOfN(30, Gen.chooseNum(0L, 86400L))
    samples(offsets, 4).foreach { offs =>
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val events = offs.zipWithIndex.map { case (o, i) =>
        (i.toLong, new java.sql.Timestamp(base + o * 1000), (i % 3).toLong + 1, "e", 1.0)
      }
      val df = events.toDF("event_id", "ts", "user_id", "event_type", "value")
      val sessions = graft.streaming.EventStreams.sessionizeBatch(df, gapSeconds = gapSec)
        .select("user_id", "n_events").as[(Long, Long)].collect()
      // every event lands in exactly one session
      assert(sessions.map(_._2).sum == events.size.toLong)
      // per-user session count == 1 + number of gaps > gapSec in sorted order
      val expected = events.groupBy(_._3).map { case (u, evs) =>
        val ts = evs.map(_._2.getTime).sorted
        u -> (1 + ts.zip(ts.tail).count { case (a, b) => b - a > gapSec * 1000 })
      }
      val got = sessions.groupBy(_._1).map { case (u, ss) => u -> ss.length }
      assert(got == expected, s"sessions $got != $expected")
    }
  }

  private val vec4 = Gen.listOfN(4, Gen.chooseNum(-1.0f, 1.0f))
    .suchThat(v => v.exists(_ != 0f)).map(_.toSeq)

  // Random event logs: few users, small second offsets, unique ids,
  // types from a 3-letter alphabet — enough to hit ties, gaps, and
  // single-event users.
  private val eventLog: Gen[List[(Long, Long, String)]] =
    Gen.nonEmptyListOf(for {
      u <- Gen.choose(1L, 5L)
      sec <- Gen.choose(0L, 5000L)
      t <- Gen.oneOf("a", "b", "c")
    } yield (u, sec, t))

  private def toEventsDf(log: List[(Long, Long, String)]) =
    log.zipWithIndex.map { case ((u, sec, t), i) =>
      (u, new java.sql.Timestamp(1700000000000L + sec * 1000), i.toLong, t)
    }.toDF("user_id", "ts", "event_id", "event_type")

  test("round-15 families are partitioning-invariant (retry/cluster-layout stability)") {
    // the 100 TB claim behind X103/X105/X106: results must not depend
    // on how the input happens to be split across tasks — integer
    // aggregates, hash-derived noise, and lowest-id quantizer seeds
    // are all layout-free by construction; pin it
    val docs = samples(text, 40).zipWithIndex
      .map { case (t, i) => (i.toLong, t + " banana aaaa") }
      .toDF("doc_id", "text")
    def bpe(df: org.apache.spark.sql.DataFrame) = Bpe.train(df, "text", 4)._1
    assert(bpe(docs.repartition(7)) == bpe(docs.coalesce(1)))
    graft.CachedFrames.unpersistAll()

    val vecs = (0 until 60)
      .map(i => (i.toLong, Seq.tabulate(8)(d => (math.sin(i * 8 + d) * 3).toFloat)))
      .toDF("vec_id", "embedding")
    val model = Pq.lowestIdCodebooks(vecs, "vec_id", "embedding", 8, m = 2, ksub = 4)
    def codes(df: org.apache.spark.sql.DataFrame) =
      Pq.encode(df, "embedding", model).select("vec_id", "pq_codes")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(vecs.repartition(13)) == codes(vecs.coalesce(1)))

    def dp(df: org.apache.spark.sql.DataFrame) =
      Curation.dpHistogram(df.select(col("doc_id").cast("double").as("v")),
          col("v"), 0.0, 40.0, 8, epsilon = 1.0, secret = "p")
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(dp(docs.repartition(5)) == dp(docs.coalesce(1)))
  }

  test("funnel step counts are monotonically non-increasing on any event log") {
    samples(eventLog, 6).foreach { log =>
      val counts = EventAnalytics.funnel(
          toEventsDf(log), "user_id", "ts", "event_type", Seq("a", "b", "c"))
        .orderBy("step").select("step", "entities")
        .as[(Int, Long)].collect().toMap
      val padded = (1 to 3).map(counts.getOrElse(_, 0L))
      assert(padded == padded.sorted.reverse, s"funnel grew: $padded on $log")
    }
  }

  test("sessionPaths conserves events: path lengths sum to the log size") {
    samples(eventLog, 6).foreach { log =>
      val total = EventAnalytics.sessionPaths(
          toEventsDf(log), "user_id", "ts", "event_type", "event_id",
          gapSeconds = 600)
        .select(size(split(col("path"), ">")).cast("long").as("n"))
        .agg(sum("n")).head().getLong(0)
      assert(total == log.size.toLong, s"lost events: $total != ${log.size}")
    }
  }

  test("retention offset-0 rows partition the users: cohort sizes sum to distinct users") {
    samples(eventLog, 6).foreach { log =>
      val r = EventAnalytics.retentionCohorts(toEventsDf(log), "user_id", "ts")
        .as[(java.sql.Date, Int, Long)].collect()
      val users = log.map(_._1).distinct.size.toLong
      assert(r.filter(_._2 == 0).map(_._3).sum == users)
      // no offset bucket can exceed its cohort's size
      val size0 = r.filter(_._2 == 0).map(x => x._1 -> x._3).toMap
      r.foreach { case (c, _, n) => assert(n <= size0(c)) }
    }
  }

  test("scd2 episodes chain per key: contiguous ranges, one current, first ts kept") {
    samples(eventLog, 6).foreach { log =>
      val eps = Cdc.scd2FromLog(
          toEventsDf(log), "user_id", "ts", "event_id", Seq("event_type"))
        .orderBy("user_id", "valid_from")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(2), Option(r.getTimestamp(3)), r.getBoolean(4)))
      eps.groupBy(_._1).foreach { case (_, es) =>
        assert(es.count(_._4) == 1, "exactly one current episode per key")
        es.sliding(2).foreach {
          case Array(a, b) => assert(a._3.contains(b._2), "ranges must chain")
          case _ =>
        }
        assert(es.last._3.isEmpty, "last episode must be open")
      }
      assert(eps.length >= log.map(_._1).distinct.size)
    }
  }

  test("applyChanges result keys = base minus deletes plus upserts, on any change set") {
    val changeSet: Gen[List[(Long, Long, String)]] =
      Gen.nonEmptyListOf(for {
        k <- Gen.choose(1L, 8L)
        v <- Gen.choose(1L, 100L)
        op <- Gen.oneOf("U", "D")
      } yield (k, v, op))
    samples(changeSet, 6).foreach { chs =>
      // unique versions per key so latest-wins is well-defined
      val versioned = chs.zipWithIndex.map { case ((k, v, op), i) => (k, v, i.toLong, op) }
      val base = (1L to 4L).map(k => (k, 0L)).toDF("k", "payload")
      val changes = versioned.toDF("k", "payload", "version", "op")
      val got = Cdc.applyChanges(base, changes, Seq("k"), "version", "op")
        .select("k").as[Long].collect().toSet
      val latestOp = versioned.groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._3)._4 }
      val expected = ((1L to 4L).toSet ++ latestOp.keySet)
        .filterNot(k => latestOp.get(k).contains("D"))
      assert(got == expected, s"on $versioned")
    }
  }

  test("IncrementalAgg: merge of any random split equals the full recompute") {
    val rows: Gen[List[(String, Option[Double])]] =
      Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b", "c"),
        Gen.option(Gen.chooseNum(-50.0, 50.0))))
    samples(Gen.zip(rows, Gen.choose(0, 100)), 6).foreach { case (rs, cutPct) =>
      val df = rs.zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }
        .toDF("id", "k", "v")
      val cut = rs.size.toLong * cutPct / 100
      def byKey(x: org.apache.spark.sql.DataFrame) = x.collect()
        .map(r => r.getString(0) -> ((r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
      val full = byKey(IncrementalAgg.partials(df, Seq("k"), "v"))
      val merged = byKey(IncrementalAgg.merge(
        IncrementalAgg.partials(df.filter(col("id") < cut), Seq("k"), "v"),
        IncrementalAgg.partials(df.filter(col("id") >= cut), Seq("k"), "v")))
      assert(merged.keySet == full.keySet)
      full.foreach { case (k, (n, s, mn, mx)) =>
        val (n2, s2, mn2, mx2) = merged(k)
        // n/min/max merge exactly; the sum re-associates, so ulp slack
        assert(n2 == n && mn2 == mn && mx2 == mx, s"state drift for $k on $rs")
        (s, s2) match {
          case (Some(a), Some(b)) => assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a)))
          case (a, b) => assert(a == b)
        }
      }
    }
  }

  test("tokenBudget: kept docs form a per-group prefix within budget, monotone in budget") {
    val docs: Gen[List[(String, Int)]] = Gen.nonEmptyListOf(
      Gen.zip(Gen.oneOf("s1", "s2"), Gen.choose(1, 9)))
    samples(Gen.zip(docs, Gen.choose(3L, 30L)), 6).foreach { case (ds, budget) =>
      val df = ds.zipWithIndex.map { case ((src, n), i) =>
        (i.toLong, src, Seq.fill(n)("w").mkString(" "))
      }.toDF("doc_id", "source", "text")
      val out = Curation.tokenBudget(df, "text", "source", budget, col("doc_id"))
        .select("doc_id", "source", "n_tokens", "kept")
        .as[(Long, String, Long, Boolean)].collect().sortBy(_._1)
      out.groupBy(_._2).foreach { case (_, rows) =>
        // kept is a prefix: once false, never true again
        val flags = rows.sortBy(_._1).map(_._4)
        assert(!flags.dropWhile(identity).contains(true), s"refill on $ds")
        // kept mass within budget
        assert(rows.filter(_._4).map(_._3).sum <= budget)
      }
      val keptSmall = out.filter(_._4).map(_._1).toSet
      val keptBig = Curation.tokenBudget(df, "text", "source", budget + 10, col("doc_id"))
        .filter(col("kept")).select("doc_id").as[Long].collect().toSet
      assert(keptSmall.subsetOf(keptBig), s"budget not monotone on $ds")
    }
  }

  test("histogram conserves the non-NULL count for any grid") {
    val vals = Gen.nonEmptyListOf(Gen.option(Gen.chooseNum(-100.0, 200.0)))
    samples(Gen.zip(vals, Gen.choose(1, 12)), 6).foreach { case (vs, n) =>
      val df = vs.map(Tuple1(_)).toDF("v")
      val h = Expectations.histogram(df, col("v"), 0.0, 100.0, n)
        .as[(Long, Double, Double, Long)].collect()
      assert(h.map(_._4).sum == vs.count(_.isDefined).toLong, s"lost rows on $vs")
      assert(h.forall(r => r._1 >= 0 && r._1 < n), s"bucket out of range on $vs")
    }
  }

  test("psiReport is symmetric in total and exactly zero on identical inputs") {
    val vals = Gen.nonEmptyListOf(Gen.chooseNum(0.0, 10.0))
    samples(Gen.zip(vals, vals), 5).foreach { case (as, bs) =>
      val a = as.map(Tuple1(_)).toDF("v")
      val b = bs.map(Tuple1(_)).toDF("v")
      def total(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) = {
        val t = Expectations.psiReport(x, y, col("v"), 0.0, 10.0, 5)
          .agg(sum("psi_contrib")).head().getDouble(0)
        graft.CachedFrames.unpersistAll(); t
      }
      assert(math.abs(total(a, b) - total(b, a)) < 1e-9, s"asymmetric on $as/$bs")
      assert(total(a, a) == 0.0)
    }
  }

  test("resample conserves events on a dense, step-aligned spine") {
    samples(eventLog, 6).foreach { log =>
      val df = log.zipWithIndex.map { case ((u, sec, _), i) =>
        (u, new java.sql.Timestamp(1700000000000L + sec * 1000), i.toLong, 1.0)
      }.toDF("user_id", "ts", "event_id", "value")
      val rs = EventAnalytics.resample(df, "user_id", "ts", "value", "event_id", 600L)
        .select("user_id", "period_start", "n_events")
        .as[(Long, java.time.LocalDateTime, Long)].collect()
      assert(rs.map(_._3).sum == log.size.toLong, s"lost events on $log")
      rs.groupBy(_._1).foreach { case (_, rows) =>
        val periods = rows.map(_._2).sortBy(_.toString)
        periods.sliding(2).foreach {
          case Array(p, q) => assert(java.time.Duration.between(p, q).getSeconds == 600,
            s"spine gap $p -> $q")
          case _ =>
        }
      }
    }
  }

  test("oovRate is in [0,1], zero under a covering vocabulary") {
    samples(Gen.nonEmptyListOf(text), 5).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "t")
      val vocabAll = df.select(explode(TextAnalysis.tokens(col("t"))).as("token"))
      val zero = TextAnalysis.oovRate(df, "t", "doc_id", vocabAll)
        .select("oov_rate").as[Double].collect()
      assert(zero.forall(_ == 0.0), s"covering vocab must yield 0 on $texts")
      val some = TextAnalysis.oovRate(df, "t", "doc_id", Seq("table").toDF("token"))
        .select("oov_rate").as[Double].collect()
      assert(some.forall(r => r >= 0.0 && r <= 1.0))
    }
  }

  test("semanticDedupPairs is a subset of the exact all-pairs near-dups on any input") {
    samples(Gen.listOfN(12, vec4), 4).foreach { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val centroids = vecs.take(3)
      val sem = Similarity.semanticDedupPairs(df, "vec_id", "embedding", centroids, 0.8)
        .select("a", "b").as[(Long, Long)].collect().toSet
      val exact = Similarity.exactNearDupPairs(df, "vec_id", "embedding", 0.8)
        .select("a", "b").as[(Long, Long)].collect().toSet
      assert(sem.subsetOf(exact), s"phantom pairs ${sem -- exact} on $vecs")
      // keep-set complement: dropped ids are exactly the pair b's
      val kept = Similarity.semanticDedup(df, "vec_id", "embedding", centroids, 0.8)
        .select("vec_id").as[Long].collect().toSet
      assert(kept == vecs.indices.map(_.toLong).toSet -- sem.map(_._2))
    }
  }

  test("span accounting conserves tokens: covered + strip-kept = n_tokens, coverage bounded") {
    samples(Gen.nonEmptyListOf(text), 8).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val dup = Dedup.spanDuplication(df, "t", "id", windowTokens = 3)
        .select("id", "n_tokens", "covered_tokens")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      val kept = Dedup.stripDuplicatedSpans(df, "t", "id", windowTokens = 3)
        .select("id", "kept_tokens").as[(Long, Long)].collect().toMap
      dup.foreach { case (id, (n, covered)) =>
        assert(covered >= 0 && covered <= n, s"id=$id covered $covered of $n")
        assert(covered + kept(id) == n,
          s"id=$id covered $covered + kept ${kept(id)} != $n on $texts")
      }
      graft.CachedFrames.unpersistAll()
    }
  }

  test("chunking covers every token exactly once per non-overlap stride") {
    samples(Gen.nonEmptyListOf(text), 8).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val chunks = Curation.chunkDocuments(df, "t", "id", chunkTokens = 5, overlapTokens = 2)
        .select("id", "start_tok", "chunk_tokens")
        .as[(Long, Int, Int)].collect().toSeq.groupBy(_._1)
      texts.zipWithIndex.foreach { case (t, i) =>
        val n = t.split(" ", -1).length
        val covered = chunks(i.toLong)
          .flatMap { case (_, s, len) => s until (s + len) }.toSet
        assert(covered == (0 until n).toSet,
          s"doc $i: covered ${covered.size} of $n tokens")
      }
    }
  }

  test("privacy triad consistency: class counts partition the table on any QI set") {
    samples(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 3), Gen.option(word))), 8)
      .foreach { rows =>
        val df = rows.zipWithIndex
          .map { case ((z, s), i) => (i.toLong, s"zip$z", s.orNull) }
          .toDF("id", "zip", "diag")
        val k = Curation.kAnonymityClasses(df, Seq("zip"), 2L)
        assert(k.agg(sum("n")).head().getLong(0) == rows.size.toLong)
        val l = Curation.lDiversityClasses(df, Seq("zip"), "diag", 2L)
          .select("zip", "n", "distinct_sensitive")
          .as[(String, Long, Long)].collect()
        l.foreach { case (z, n, ds) =>
          assert(ds >= 1 && ds <= n, s"$z: $ds distinct of $n rows")
        }
        val t = Curation.tClosenessClasses(df, Seq("zip"), "diag", 0.5)
          .select("distance").as[Double].collect()
        t.foreach(d => assert(d >= 0.0 && d <= 1.0, s"TVD out of range: $d"))
      }
  }

  test("rrfFuse scores and bounds: every output rank dense, scores within (0, lists/k0]") {
    samples(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 3L), Gen.choose(1L, 20L))), 8)
      .foreach { pairs =>
        val ranked = pairs.distinct.groupBy(_._1).toSeq.flatMap { case (q, rs) =>
          rs.map(_._2).distinct.sorted.zipWithIndex.map { case (d, r) => (q, d, r + 1) }
        }
        if (ranked.nonEmpty) {
          val df = ranked.toDF("qid", "doc", "rank")
          val fused = TfIdf.rrfFuse(Seq(df, df), topK = 5)
            .select("qid", "rank", "n_lists", "rrf_r")
            .as[(Long, Int, Long, Double)].collect()
          fused.groupBy(_._1).foreach { case (q, rs) =>
            assert(rs.map(_._2).sorted.toSeq == (1 to rs.length), s"qid=$q ranks")
          }
          fused.foreach { case (_, _, lists, score) =>
            assert(lists == 2L, "same list twice → every candidate in both")
            // scores round to 6 decimals, so allow half an ulp of that
            assert(score > 0 && score <= 2.0 / 61 + 5e-7, s"score $score")
          }
        }
      }
  }

  test("foldBatch: time-ordered batch splits never change the sessions") {
    // the streaming sessionize state fold must be split-invariant when
    // batch boundaries respect event-time order: however a time-ordered
    // log is cut into micro-batches, (closed ++ open) equals the
    // single-shot chain — i.e. what sessionizeBatch computes. (Out-of-
    // order CROSS-batch arrival is intentionally best-effort and pinned
    // separately in EventStreamsSpec.)
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.Event
    val gapMs = 600 * 1000L
    // event values stay 1.0 so double sums are exact under regrouping
    val gen = Gen.zip(
      Gen.listOfN(25, Gen.choose(0L, 3 * gapMs)),
      Gen.listOf(Gen.choose(1, 24)))
    samples(gen, 12).foreach { case (deltas, cuts) =>
      var t = 1700000000000L
      val events = deltas.zipWithIndex.map { case (d, i) =>
        t += d
        Event(i.toLong, new java.sql.Timestamp(t), 1L, "x", 1.0)
      }
      val (sc, so) = EventStreams.foldBatch(None, events, gapMs)
      val single = sc ++ so.toList
      val bounds = (cuts.distinct.sorted :+ events.length).distinct
      val batches = (0 +: bounds).zip(bounds).collect {
        case (a, b) if a < b => events.slice(a, b)
      }
      var state: Option[EventStreams.SessionState] = None
      val closed = List.newBuilder[EventStreams.SessionState]
      batches.foreach { b =>
        val (c, open) = EventStreams.foldBatch(state, b, gapMs)
        closed ++= c
        state = open
      }
      val multi = closed.result() ++ state.toList
      assert(multi == single, s"deltas=$deltas cuts=$cuts")
    }
  }
}
