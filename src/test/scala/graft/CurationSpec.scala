package graft

import org.apache.spark.sql.functions._

import graft.TempDirs.withTempDir
import graft.operators.Curation

/** Spark-side semantics for the corpus-curation pipeline operators
  * (value parity with DuckDB is covered by tools/verify.sh).
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def corpusTokens: Long = Tables.documents(spark, sf)
    .select(size(graft.functions.Text.tokens(col("text"))).cast("long").as("n"))
    .agg(sum("n")).as[Long].head()

  test("domain shift: cosines in [-1,1]; one source recomputed driver-side") {
    val rows = Curation.pDomainShift(spark, sf)
      .as[(String, Long, Double)].collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (s, n, c) =>
      assert(n > 0 && c >= -1.0 && c <= 1.0, s"$s: n=$n cos=$c")
    }
    // driver-side recompute of one source's centroid cosine from raw
    // embeddings (plain double means — 1e-5 tolerance vs the query's
    // exact-decimal path)
    val target = rows.head._1
    val joined = Tables.documents(spark, sf).select(col("doc_id"), col("source"))
      .join(Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding")), col("doc_id") === col("vec_id"))
      .select(col("source"), col("embedding")).as[(String, Array[Float])]
      .collect()
    def mean(vs: Seq[Array[Float]]): Array[Double] = {
      val m = new Array[Double](vs.head.length)
      vs.foreach(v => v.indices.foreach(i => m(i) += v(i)))
      m.map(_ / vs.size)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = cos(mean(joined.filter(_._1 == target).map(_._2).toSeq),
      mean(joined.map(_._2).toSeq))
    val got = rows.find(_._1 == target).get._3
    assert(math.abs(got - want) < 1e-5, s"$target: $got vs $want")
  }

  test("triplets: anchors have LSH partners, positive is the min partner, negative is clean") {
    import spark.implicits._
    val trips = Curation.pTriplets(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(trips.nonEmpty)
    val pairs = graft.operators.Dedup.dMinhashLsh(spark, sf)
      .select("a", "b").as[(Long, Long)].collect()
    val partners = (pairs ++ pairs.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    trips.foreach { case (anchor, positive, negative) =>
      assert(partners.contains(anchor), s"anchor $anchor has no near-dup partner")
      assert(positive === partners(anchor).min, s"positive of $anchor not the min partner")
      assert(!partners(anchor).contains(negative),
        s"negative $negative of $anchor is a near-dup (false negative)")
      assert(negative != anchor)
      assert(positive != anchor)
    }
    // negatives are deterministic: a second run yields the identical set
    val again = Curation.pTriplets(spark, sf).as[(Long, Long, Long)].collect()
    assert(trips.toSeq === again.toSeq)
  }

  test("pack: conserves every token, fills every sequence but the last") {
    val packed = Curation.pPack(spark, sf)
      .select("seq_id", "n_docs", "n_tokens").as[(Int, Int, Int)].collect()
    assert(packed.map(_._3.toLong).sum === corpusTokens)
    // seq ids are dense 0..max (concatenation leaves no gaps)
    assert(packed.map(_._1).toSeq === (0 until packed.length))
    // every sequence except the final one holds exactly PackSeqLen tokens
    packed.dropRight(1).foreach { case (id, _, n) =>
      assert(n === Curation.PackSeqLen, s"seq $id")
    }
    assert(packed.last._3 <= Curation.PackSeqLen)
    assert(packed.forall(_._2 >= 1))
  }

  test("pack: docs spanning a boundary are counted in every sequence they touch") {
    // total doc-contributions >= number of packable docs (equality only
    // if no doc crosses a 512 boundary — vanishingly unlikely here)
    val nDocs = Tables.documents(spark, sf)
      .filter(size(graft.functions.Text.tokens(col("text"))) > 0).count()
    val contributions = Curation.pPack(spark, sf).agg(sum("n_docs")).as[Long].head()
    assert(contributions > nDocs)
  }

  test("pack_bpe: conserves the subword budget; bills more than whitespace packing") {
    val packed = Curation.pPackBpe(spark, sf)
      .select("seq_id", "n_docs", "n_tokens").as[(Int, Int, Int)].collect()
    // conservation: total packed tokens == total BPE token budget from
    // the independent encode view
    val budget = graft.operators.TextAnalysis.tBpeEncode(spark, sf)
      .agg(sum("n_bpe_tokens")).as[Long].head()
    assert(packed.map(_._3.toLong).sum === budget)
    assert(packed.map(_._1).toSeq === (0 until packed.length))
    packed.dropRight(1).foreach { case (id, _, n) =>
      assert(n === Curation.PackSeqLen, s"seq $id")
    }
    // subword counts >= whitespace counts (every word is >= 1 subword),
    // so the BPE-billed corpus needs at least as many sequences
    assert(packed.length >= Curation.pPack(spark, sf).count())
  }

  test("curriculum: stages are quality-ordered quartiles; schedule is reproducible") {
    val rows = Curation.pCurriculum(spark, sf)
      .select("doc_id", "quality", "stage", "curriculum_key")
      .as[(Long, Double, Int, String)].collect()
    assert(rows.length === Tables.documents(spark, sf).count())
    assert(rows.map(_._3).distinct.sorted.toSeq === Seq(0, 1, 2, 3))
    // monotone: every stage-k doc has quality >= every stage-(k+1) doc
    val byStage = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    for (k <- 0 to 2)
      assert(byStage(k).min >= byStage(k + 1).max,
        s"stage $k min ${byStage(k).min} < stage ${k + 1} max ${byStage(k + 1).max}")
    // quartiles are roughly balanced (cutoff ties can shift members)
    byStage.values.foreach(v =>
      assert(v.size > rows.length / 8, "degenerate stage"))
    // deterministic: a second run yields the identical schedule
    val again = Curation.pCurriculum(spark, sf)
      .select("doc_id", "quality", "stage", "curriculum_key")
      .as[(Long, Double, Int, String)].collect()
    assert(rows.toSeq === again.toSeq)
  }

  test("mix: whole-epoch sources replicate exactly, fractional gate is per-doc stable") {
    val docs = Tables.documents(spark, sf)
    val mix = Curation.pMix(spark, sf).cache()
    try {
      // src1 = 2.0 epochs: every src1 doc appears exactly twice
      val perDoc = mix.filter(col("source") === "src1").groupBy("doc_id").count()
      assert(perDoc.filter(col("count") =!= 2).count() === 0)
      // default sources (not in MixEpochs) appear exactly once
      val listed = Curation.MixEpochs.map(_._1)
      val defPerDoc = mix.filter(!col("source").isInCollection(listed))
        .groupBy("doc_id").count()
      assert(defPerDoc.filter(col("count") =!= 1).count() === 0)
      // src2 = 0.5 epoch: strictly downsampled, each surviving doc once
      val src2Total = docs.filter(col("source") === "src2").count()
      val src2Kept = mix.filter(col("source") === "src2").count()
      assert(src2Kept < src2Total && src2Kept > 0)
      // copy index never exceeds whole+1
      val maxEpochs = Curation.MixEpochs.map(_._2._1).max + 1
      assert(mix.agg(max("copy")).as[Int].head() <= maxEpochs)
    } finally mix.unpersist()
  }

  test("interleave: covers every doc once; each rank round-robins the sources") {
    val rows = Curation.pInterleave(spark, sf)
      .select("doc_id", "source", "rn").as[(Long, String, Int)].collect()
    assert(rows.map(_._1).distinct.length === rows.length)
    // within a source, ranks are dense 1..n
    rows.groupBy(_._2).foreach { case (_, docs) =>
      assert(docs.map(_._3).sorted.toSeq === (1 to docs.length))
    }
    // the emitted order is rank-major: a source appears at most once per rank
    rows.groupBy(_._3).foreach { case (_, atRank) =>
      assert(atRank.map(_._2).distinct.length === atRank.length)
    }
  }

  test("split: disjoint, exhaustive, deterministic, all three parts non-empty") {
    val split = Curation.pSplit(spark, sf).cache()
    try {
      assert(split.count() === Tables.documents(spark, sf).count())
      // one split label per doc (disjoint+exhaustive by construction,
      // but pin it against a refactor to two independent samples)
      assert(split.groupBy("doc_id").count().filter(col("count") =!= 1).count() === 0)
      val parts = split.groupBy("split").count()
        .as[(String, Long)].collect().toMap
      assert(parts.keySet === Set("train", "val", "test"))
      assert(parts("train") > parts("val") && parts("train") > parts("test"))
      // label matches the emitted bucket on every row
      val bad = split.filter(
        (col("bucket") >= "f0" && col("split") =!= "test") ||
        (col("bucket") >= "e0" && col("bucket") < "f0" && col("split") =!= "val") ||
        (col("bucket") < "e0" && col("split") =!= "train"))
      assert(bad.count() === 0)
    } finally split.unpersist()
  }

  test("curate -> split(train) -> shuffle order") {
    // the operators chain the way a training run consumes them: the
    // train split keeps a non-empty strict subset of the curated docs,
    // and the epoch shuffle emits every document once, in
    // (shuffle_key, doc_id) order, as a real permutation of the ids
    val kept = Curation.curate(spark, sf).select("doc_id").as[Long].collect().toSet
    val train = Curation.pSplit(spark, sf).filter(col("split") === "train")
      .select("doc_id").as[Long].collect().toSet
    val curatedTrain = kept.intersect(train)
    assert(curatedTrain.nonEmpty && curatedTrain.size < kept.size,
      s"split must drop some of the ${kept.size} curated docs, kept ${curatedTrain.size}")
    val epoch = Curation.pShuffle(spark, sf).select("shuffle_key", "doc_id")
      .as[(String, Long)].collect().toSeq
    val ids = Tables.documents(spark, sf).select("doc_id").as[Long].collect().sorted.toSeq
    assert(epoch.map(_._2).sorted === ids)
    assert(epoch.map(_._1).distinct.size === epoch.size, "shuffle keys collide")
    assert(epoch === epoch.sorted, "not emitted in (shuffle_key, doc_id) order")
    assert(epoch.map(_._2) !== ids, "the shuffle left the id order unchanged")
  }

  test("weighted sample: length >= 400 chars is always kept, and the gate is deterministic") {
    val docs = Tables.documents(spark, sf)
    val kept = Curation.pSampleWeighted(spark, sf).select("doc_id").as[Long].collect().toSet
    val must = docs.filter(col("n_chars") >= 400).select("doc_id").as[Long].collect()
    must.foreach(id => assert(kept.contains(id), s"doc $id (>=400 chars) was dropped"))
    // p = min(1, n_chars/400) and fixture docs average well under 400:
    // the sample must be a strict, non-empty subset
    val total = docs.count()
    assert(kept.nonEmpty && kept.size < total)
    val again = Curation.pSampleWeighted(spark, sf).select("doc_id").as[Long].collect().toSet
    assert(again === kept)
  }

  test("merkle: tree matches a driver recompute; one changed doc moves exactly one bucket + root") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val texts = Tables.documents(spark, sf).select("text").as[String].collect()
    val leaves = texts.map(md5hex)
    val byBucket = leaves.groupBy(d => Integer.parseInt(d.substring(0, 2), 16))
    val wantL0 = byBucket.view.mapValues(ds => (ds.length.toLong, md5hex(ds.sorted.mkString("")))).toMap
    val wantRoot = md5hex(wantL0.toSeq.sortBy(_._1).map(_._2._2).mkString(""))
    val got = Curation.pMerkle(spark, sf).as[(Int, Int, Long, String)].collect()
    val gotL0 = got.filter(_._1 == 0).map(r => r._2 -> (r._3, r._4)).toMap
    assert(gotL0 === wantL0)
    val root = got.filter(_._1 == 1)
    assert(root.length === 1 && root.head._4 === wantRoot
      && root.head._3 === texts.length.toLong)
    // anti-entropy: flip ONE document -> exactly the affected bucket
    // digests change (1 or 2: old bucket loses the leaf, new gains it),
    // every other bucket digest is untouched, and the root moves
    withTempDir("merkle") { tmp =>
      val dir = tmp.toString
      val docs = Tables.documents(spark, sf)
      docs.withColumn("text",
          when(col("doc_id") === 0, lit("MUTATED CONTENT")).otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val mut = Curation.pMerkle(spark, dir).as[(Int, Int, Long, String)].collect()
      val mutL0 = mut.filter(_._1 == 0).map(r => r._2 -> (r._3, r._4)).toMap
      val changed = (gotL0.keySet ++ mutL0.keySet)
        .filter(b => gotL0.get(b) != mutL0.get(b))
      assert(changed.nonEmpty && changed.size <= 2, s"buckets changed: $changed")
      assert(mut.filter(_._1 == 1).head._4 !== wantRoot)
    }
  }

  test("keep-best: one keeper per component, and it is the quality argmax") {
    import graft.operators.{Dedup, TextAnalysis}
    val rows = Curation.pKeepBest(spark, sf)
      .as[(Long, Long, Double, Int)].collect()
    // covers every document exactly once
    val allDocs = Tables.documents(spark, sf).select("doc_id").as[Long].collect().toSet
    assert(rows.map(_._1).toSet === allDocs && rows.length === allDocs.size)
    // exactly one keep per component, and it's the (quality desc, id) argmax
    rows.groupBy(_._2).values.foreach { g =>
      val keepers = g.filter(_._4 == 1)
      assert(keepers.length === 1, s"component ${g.head._2}")
      val want = g.minBy(r => (-r._3, r._1))
      assert(keepers.head._1 === want._1)
    }
    // docs in no LSH pair are singleton components labeled by themselves
    val paired = Dedup.dMinhashLsh(spark, sf).select("a", "b")
      .as[(Long, Long)].collect().flatMap(p => Seq(p._1, p._2)).toSet
    rows.filterNot(r => paired(r._1)).foreach { r =>
      assert(r._2 === r._1 && r._4 === 1, s"singleton ${r._1}")
    }
    // quality column is exactly t_quality's score
    val qual = TextAnalysis.tQuality(spark, sf)
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    rows.foreach(r => assert(r._3 === qual(r._1)))
  }

  test("split leakage: closed-form pair counts match a driver recompute (sf0.1)") {
    // sf0.001/sf0.01 corpora have no exact dups; sf0.1 does (8 groups)
    val dir = "/root/testdata/sf0.1"
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .as[(Long, String)].collect()
    val bySplit = docs.map { case (id, text) =>
      val b = md5hex(s"split|$id").substring(0, 2)
      val split = if (b >= "f0") "test" else if (b >= "e0") "val" else "train"
      (md5hex(text), split)
    }
    val groups = bySplit.groupBy(_._1).values.map { g =>
      (g.count(_._2 == "train").toLong, g.count(_._2 == "val").toLong,
        g.count(_._2 == "test").toLong)
    }.toSeq
    val wantDup = groups.count(g => g._1 + g._2 + g._3 >= 2).toLong
    val wantLeaky = groups.count(g =>
      Seq(g._1, g._2, g._3).count(_ > 0) >= 2).toLong
    val wantTV = groups.map(g => g._1 * g._2).sum
    val wantTT = groups.map(g => g._1 * g._3).sum
    val wantVT = groups.map(g => g._2 * g._3).sum
    val row = Curation.pSplitLeakage(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(row.length === 1)
    assert(row.head === ((wantDup, wantLeaky, wantTV, wantTT, wantVT)))
    // the fixture must actually exercise the operator
    assert(wantDup > 0, "sf0.1 fixture lost its exact-dup groups")
  }

  test("length buckets: totals reconcile, cum share monotone to exactly 1.0") {
    val rows = Curation.pLengthBuckets(spark, sf)
      .as[(Int, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    // buckets ascend, widths align to the configured width
    assert(rows.map(_._1).toSeq === rows.map(_._1).sorted.toSeq)
    rows.foreach(r => assert(r._1 % Curation.LenBucketWidth === 0))
    // doc/token totals reconcile with the raw corpus
    val ns = Tables.documents(spark, sf).select("text").as[String].collect()
      .map(_.split("[ \\t\\n\\r\\f]+").count(_.nonEmpty))
    assert(rows.map(_._2).sum === ns.length.toLong)
    assert(rows.map(_._3).sum === ns.map(_.toLong).sum)
    ns.groupBy(n => n - n % Curation.LenBucketWidth).foreach { case (b, g) =>
      val row = rows.find(_._1 === b).get
      assert(row._2 === g.length.toLong && row._3 === g.map(_.toLong).sum)
    }
    // cumulative share strictly increases and lands on exactly 1.0
    assert(rows.map(_._4).toSeq === rows.map(_._4).sorted.toSeq)
    assert(rows.last._4 === 1.0)
  }

  test("p_temperature_mix: shares normalize; boost is monotone-decreasing in size") {
    val rows = Curation.pTemperatureMix(spark, sf)
      .as[(String, Long, Double, Double, Double)].collect()
    assert(rows.length === 20) // fixtures carry src0..src19
    // both share columns are distributions (up to 6-dp rounding per source)
    assert(math.abs(rows.map(_._3).sum - 1.0) < rows.length * 5.001e-7)
    assert(math.abs(rows.map(_._4).sum - 1.0) < rows.length * 5.001e-7)
    // α < 1 compresses: smaller sources get strictly larger boosts
    val bySize = rows.sortBy(_._2)
    bySize.sliding(2).foreach {
      case Array(small, large) if small._2 < large._2 =>
        assert(small._5 >= large._5,
          s"boost not monotone: ${small._1}=${small._5} vs ${large._1}=${large._5}")
      case _ =>
    }
    // boost pivots around 1 at the mean source size: some up, some down
    assert(rows.exists(_._5 > 1.0) && rows.exists(_._5 < 1.0))
    // driver-side recompute of one source's temperature share
    val wq = rows.map(r => math.floor(BigDecimal(math.pow(r._2.toDouble, Curation.PTempAlpha))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6).toLong)
    val swq = wq.sum.toDouble
    rows.zip(wq).foreach { case ((src, _, _, pTemp, _), w) =>
      assert(math.abs(pTemp - w / swq) < 5.001e-7, s"$src p_temp=$pTemp want ${w / swq}")
    }
  }

  test("dp release: noise table well-formed, draws bounded, release deterministic") {
    // the inverse-CDF table: strictly increasing 13-hex-digit cutoffs
    val breaks = Curation.dpBreaks
    assert(breaks.length === 2 * Curation.DpK)
    assert(breaks.forall(b => b.length === 13 && b.forall("0123456789abcdef".contains(_))))
    breaks.sliding(2).foreach { case Seq(a, b) => assert(a < b, s"$a !< $b"); case _ => }
    // symmetry of the mechanism: the median cutoff splits at ~0.5 minus
    // half the mass of the zero bucket (P(Z<0) = alpha/(1+alpha))
    val alpha = math.exp(-Curation.DpEps)
    val mid = java.lang.Long.parseLong(breaks(Curation.DpK - 1), 16) / math.pow(16.0, 13.0)
    // P(Z < 0) over the TRUNCATED support [-K, K]
    val negMass = alpha * (1 - math.pow(alpha, Curation.DpK)) / (1 + alpha)
    assert(math.abs(mid - negMass) < 1e-9, s"median cutoff $mid want $negMass")

    val rel = Curation.pDpRelease(spark, sf).as[(String, Long)].collect().toMap
    val truth = Tables.documents(spark, sf).groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(rel.keySet === truth.keySet)
    // every released count is within the truncation radius of truth
    // (clamped at zero), and at least one source actually got noise
    rel.foreach { case (src, n) =>
      val t = truth(src)
      assert(n >= math.max(0L, t - Curation.DpK) && n <= t + Curation.DpK,
        s"$src: released $n outside [$t ± ${Curation.DpK}]")
    }
    assert(rel.exists { case (src, n) => n != truth(src) },
      "no source received any noise — mechanism degenerate")
    // seeded: a second run releases the identical table
    assert(Curation.pDpRelease(spark, sf).as[(String, Long)].collect().toMap === rel)
  }
}
