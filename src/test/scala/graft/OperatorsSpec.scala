package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextOps}

/** Text analysis, dedup, and similarity operators (training-data pipeline suite). */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  val multilingual = Seq(
    (0L, "the cat and the dog went to the house and it is fine", "en"),
    (1L, "der hund und die katze sind in der stadt und das ist ein haus", "de"),
    (2L, "el perro y la casa es grande y los gatos que viven", "es"),
    (3L, "le chat est dans les maisons et une ville est dans le nord", "fr"),
    (4L, "我的猫是在房子里的它是好的和大的", "zh"))

  test("langId identifies pinned multilingual fixtures") {
    val got = multilingual.toDF("id", "text", "want")
      .select($"id", TextOps.langId($"text").as("got"), $"want")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    got.foreach { case (id, g, w) => assert(g == w, s"doc $id: got $g want $w") }
  }

  test("piiRedact: emails and phones redacted with exact counts, non-PII untouched") {
    val got = Seq(
      (1L, "reach a.b+c%d@sub.x-y.co or +44-123-4567 today"),
      (2L, "two mails u@a.io v@b.org one phone +1-555-0042"),
      (3L, "no pii here, just an @ sign and 555-1234 without country code"))
      .toDF("id", "text")
      .select($"id", TextOps.emailCount($"text").as("e"),
        TextOps.phoneCount($"text").as("p"), TextOps.piiRedact($"text").as("r"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((1L, 1L, "reach <EMAIL> or <PHONE> today")))
    assert(got(2L) == ((2L, 1L, "two mails <EMAIL> <EMAIL> one phone <PHONE>")))
    assert(got(3L) == ((0L, 0L, "no pii here, just an @ sign and 555-1234 without country code")))
  }

  test("tokenCount matches whitespace arithmetic") {
    val got = Seq((1L, "a b c"), (2L, "single"), (3L, ""))
      .toDF("id", "text").select($"id", TextOps.tokenCount($"text").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 0L))
  }

  test("fingerprint: stable, order-sensitive") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "c b a"))
      .toDF("id", "text").select($"id", TextOps.fingerprint($"text").as("fp"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L))
  }

  // planted near-duplicates: same long text with one token changed
  val base = (1 to 40).map(i => s"tok$i").mkString(" ")
  val nearDup = base.replace("tok20", "zzz")
  val distinctText = (1 to 40).map(i => s"other$i").mkString(" ")
  val dedupDocs = Seq((0L, base), (1L, base), (2L, nearDup), (3L, distinctText))

  test("exact dedup groups") {
    val g = Dedup.exactGroups(dedupDocs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))) // (n, keeper)
    assert(g.toSet == Set((2L, 0L), (1L, 2L), (1L, 3L)))
  }

  test("minhash LSH finds planted near-dups, exact jaccard verifies") {
    val pairs = Dedup.nearDuplicates(dedupDocs.toDF("doc_id", "text"), "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)), s"exact dup pair missing: $keys")
    assert(keys.contains((0L, 2L)) && keys.contains((1L, 2L)), s"near-dup pair missing: $keys")
    assert(!keys.exists(p => p._1 == 3L || p._2 == 3L), "distinct doc matched")
    pairs.find(p => p._1 == 0L && p._2 == 1L).foreach(p => assert(p._3 == 1.0))
  }

  test("simhash: identical texts share signature; near-dups within small hamming") {
    val sigs = dedupDocs.toDF("doc_id", "text")
      .select($"doc_id", Dedup.simhash(Dedup.shingleHashes($"text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(1L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)) < 16)
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(3L)) > 16)
  }

  test("brute-force cosine top-k exact on hand vectors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f)))
    val df  = vecs.toDF("vec_id", "embedding")
    val got = Similarity.bruteTopK(df.filter($"vec_id" === 0L), df, "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(got.sortBy(_._2).map(_._1).toSeq == Seq(1L, 2L)) // nearest then orthogonal
  }

  test("LSH ANN finds genuinely-near neighbors (perturbed twins) with high recall") {
    // planted structure: each vector gets a slightly-perturbed twin at id+1000 —
    // the twin is the true nearest neighbor; LSH must recover it. (On
    // uniformly random data top-k neighbors are barely-correlated directions
    // and ANY bucketing scheme has weak recall — that is not the use case.)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 100).select($"vec_id", $"embedding")
    val twins = e.select(($"vec_id" + 1000).as("vec_id"),
      transform($"embedding", x => x + (pmod(xxhash64($"vec_id", x), lit(100)).cast("float") - 50f) / 5000f)
        .as("embedding"))
    val all = e.select($"vec_id", $"embedding").unionByName(twins)
    val got = Similarity.lshTopK(all, "vec_id", "embedding", k = 1, nPlanes = 8, nProbe = 8)
      .filter($"qid" < 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0L until 100L).count(q => got.get(q).contains(q + 1000))
    assert(hits >= 85, s"LSH twin recall too low: $hits/100")
  }

  test("compiled fingerprint expression is bit-identical to the HOF fold") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
      .unionByName(Seq((100001L, ""), (100002L, "one"), (100003L, "a  b"))
        .toDF("doc_id", "text"))
    val hof = aggregate(TextOps.tokens($"text"), lit(5381L), (acc, t) => xxhash64(acc, t))
    val bad = docs
      .select(TextOps.fingerprint($"text").as("fast"), hof.as("ref"))
      .filter($"fast" =!= $"ref").count()
    assert(bad == 0, s"$bad fingerprint mismatches vs the HOF reference fold")
  }

  test("simhashPairs recall is COMPLETE at the requested radius (pigeonhole blocks)") {
    // corpus of mutated variants of one base text — many pairs land at small
    // hamming distances; ground truth by brute-force over collected signatures
    val texts = (0 until 60).map { i =>
      val toks = (1 to 50).map(j => if ((i * 53 + j * 17) % 29 < 2) s"mut${i}_$j" else s"tok$j")
      (i.toLong, toks.mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")
    val sigs = df.select($"doc_id", Dedup.simhash(Dedup.shingleHashes($"text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (maxH <- Seq(3, 5)) {
      val want = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= maxH
      } yield (a, b)).toSet
      val got = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"maxH=$maxH: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("quality score ppm is exact integer arithmetic (spot values)") {
    // "the cat sat" → n=11, alpha=9, occ(the)=1
    // lenPpm=min(22000,1e6)=22000; alphaPpm=9000000/11=818181; stopPpm=200000
    val got = Seq((1L, "the cat sat"), (2L, ""))
      .toDF("id", "text").select($"id", TextOps.qualityScorePpm($"text").as("q"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == (22000L * 3 + 818181L * 4 + 200000L * 3) / 10)
    assert(got(2L) == 0L)
  }

  test("embedding-cosine near-dup finds planted twins, never sub-threshold pairs") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 100).select($"vec_id", $"embedding")
    val twins = e.select(($"vec_id" + 1000).as("vec_id"),
      transform($"embedding", x =>
        x + (pmod(xxhash64($"vec_id", x), lit(100)).cast("float") - 50f) / 5000f)
        .as("embedding"))
    val pairs = Similarity.embeddingNearDuplicates(
        e.unionByName(twins), "vec_id", "embedding", threshold = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // precision by construction: exact verify ran on every emitted pair
    assert(pairs.forall(_._3 >= 0.98))
    // recall on planted twins (sign-LSH multi-probe; twins differ ~1e-2)
    val twinHits = pairs.count(p => p._2 == p._1 + 1000)
    assert(twinHits >= 85, s"twin recall too low: $twinHits/100")
    // random non-twin vectors must not appear (uniform corpus: cos ≪ 0.98)
    assert(pairs.forall(p => p._2 == p._1 + 1000), s"unexpected pair in $pairs")
  }

  test("compiled dot expression is bit-identical to the HOF fold") {
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val rows = e.select(
        Similarity.dot($"embedding", reverse($"embedding")).as("a"),
        Similarity.dotHof($"embedding", reverse($"embedding")).as("b"),
        // float × double mix (arithmetic promotes arrays to double)
        Similarity.dot($"embedding",
          transform($"embedding", x => x.cast("double") * lit(1.5))).as("c"),
        Similarity.dotHof($"embedding",
          transform($"embedding", x => x.cast("double") * lit(1.5))).as("d"),
        // length mismatch → null in both forms
        Similarity.dot($"embedding", slice($"embedding", 1, 10)).as("n1"),
        Similarity.dotHof($"embedding", slice($"embedding", 1, 10)).as("n2"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(bits(r.getDouble(0)) == bits(r.getDouble(1)))
      assert(bits(r.getDouble(2)) == bits(r.getDouble(3)))
      assert(r.isNullAt(4) && r.isNullAt(5))
    }
  }

  test("DotExpr codegen compiles under CODEGEN_ONLY and fuses into WholeStageCodegen") {
    // FALLBACK (the default) masks a broken doGenCode by silently
    // interpreting; CODEGEN_ONLY makes any codegen defect throw here
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val df = s2.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(Similarity.dot(col("embedding"), reverse(col("embedding"))).as("d"))
    assert(df.collect().nonEmpty)
    // and the projection stays inside a WholeStageCodegen region (the
    // CodegenFallback signature expressions sit inside one too, but via an
    // eval call — DotExpr's loop is emitted into the generated body)
    val wsc = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
    assert(wsc.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(wsc.exists(_.toString().contains("Project")), "dot projection not fused")
  }

  test("compiled centroid_top matches the declarative (−dot,cid) ranking incl. ties") {
    import graft.functions.HashExprs
    import graft.sources.PageSynth.mix2
    val base9 = Similarity.hyperplanes(9, 16, seed = 3L)
    // duplicate centroid 2 as cid 9: an exact dot tie the smaller cid must win
    val cents = base9 :+ base9(2).clone()
    val pl = typedLit(cents.map(_.toSeq).toSeq)
    val vecs = (0L until 50L).map { i =>
      (i, Array.tabulate(16)(j => (mix2(i, j.toLong).toDouble / Long.MaxValue).toFloat))
    }.toDF("id", "v")
    val k = 4
    // the declarative reference form the compiled selection replaced
    val decl = slice(array_sort(transform(sequence(lit(0), lit(cents.length - 1)), i =>
      struct((lit(0.0) - Similarity.dot($"v",
        call_function("element_at", pl, (i + lit(1)).cast("int")))).as("negDot"),
        i.cast("int").as("cid")))), 1, k)
    val rows = vecs.select(
        HashExprs.centroid_top($"v", cents, k).as("got"),
        transform(decl, s => s.getField("cid")).as("want"))
      .collect()
    assert(rows.nonEmpty && rows.forall(r => r.getSeq[Int](0) == r.getSeq[Int](1)))
    // wherever the duplicated centroid ranks, cid 2 must appear before cid 9
    rows.foreach { r =>
      val got = r.getSeq[Int](0)
      if (got.contains(9)) assert(got.indexOf(2) >= 0 && got.indexOf(2) < got.indexOf(9))
    }
    // dimension mismatch → null, never a silent common-prefix score
    val bad = vecs.select(HashExprs.centroid_top(slice($"v", 1, 8), cents, k).as("t")).collect()
    assert(bad.forall(_.isNullAt(0)))
  }

  test("IVF ANN: exact twins provably rank 1; perturbed twins with high recall") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 100).select($"vec_id", $"embedding")
    // exact duplicates: identical centroid sims ⇒ identical assignment ⇒
    // guaranteed candidate; cosine exactly 1 ⇒ the unique rank-1
    val exact = e.select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    val hits = Similarity.ivfTopK(e.unionByName(exact), "vec_id", "embedding", 5)
      .filter($"qid" < 100000L && $"nn" === $"qid" + 100000L)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(hits.size == 100, s"exact-twin recall ${hits.size}/100")
    assert(hits.values.forall(_ == 1), "an exact twin was not rank 1")
    // perturbed twins (~1e-2 relative): same nearest centroid almost always
    val pert = e.select(($"vec_id" + 200000L).as("vec_id"),
      transform($"embedding", x =>
        x + (pmod(xxhash64($"vec_id", x), lit(100)).cast("float") - 50f) / 5000f)
        .as("embedding"))
    val pertHits = Similarity.ivfTopK(e.unionByName(pert), "vec_id", "embedding", 5)
      .filter($"qid" < 100000L && $"nn" === $"qid" + 200000L)
      .count()
    assert(pertHits >= 85, s"perturbed-twin recall too low: $pertHits/100")
  }

  test("compiled centroid_top_grouped matches a brute-force two-level reference incl. ties") {
    import graft.functions.HashExprs
    import graft.sources.PageSynth.mix2
    val dim = 16
    val coarse = Similarity.hyperplanes(5, dim, seed = 11L).map { c =>
      val n = math.sqrt(c.map(x => x * x).sum); c.map(_ / n)
    }
    // 17 fine centroids; duplicate fine 3 as fine 16 (exact dot tie — the
    // smaller fine id must win wherever the pair lands, even across groups)
    val fineBase = Similarity.hyperplanes(16, dim, seed = 23L)
    val fine = (fineBase :+ fineBase(3).clone()).map { c =>
      val n = math.sqrt(c.map(x => x * x).sum); c.map(_ / n)
    }
    // grouping mirrors Similarity.ivfTopKTwoLevel: coarse argmax, tie →
    // smaller coarse index — except the duplicated fine 16 is FORCED into a
    // different group than fine 3 to exercise the cross-group tie
    def assign(f: Array[Double]): Int = {
      var best = 0; var bd = Double.NegativeInfinity
      for (c <- coarse.indices) {
        var s = 0.0; for (i <- 0 until dim) s += f(i) * coarse(c)(i)
        if (s > bd) { bd = s; best = c }
      }
      best
    }
    val groupOf = fine.zipWithIndex.map { case (f, j) =>
      if (j == 16) (assign(f) + 1) % coarse.length else assign(f)
    }
    val order = fine.indices.sortBy(j => (groupOf(j), j)).toArray
    val fineFlat = new Array[Float](order.length * dim)
    for (p <- order.indices; i <- 0 until dim) fineFlat(p * dim + i) = fine(order(p))(i).toFloat
    val offsets = new Array[Int](coarse.length + 1)
    order.foreach(j => offsets(groupOf(j) + 1) += 1)
    for (g <- 1 to coarse.length) offsets(g) += offsets(g - 1)

    val cProbe = 2; val top = 5
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(dim)(j => (mix2(i, j.toLong).toDouble / Long.MaxValue).toFloat))
    }
    val got = vecs.toDF("id", "v")
      .select($"id", HashExprs.centroid_top_grouped(
        $"v", coarse, fineFlat, order, offsets, cProbe, top).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap

    // brute-force reference: same double arithmetic, explicit total orders
    vecs.foreach { case (id, vf) =>
      val v = vf.map(_.toDouble)
      val coarseRanked = coarse.indices
        .map(c => { var s = 0.0; for (i <- 0 until dim) s += v(i) * coarse(c)(i); (-s, c) })
        .sorted.take(cProbe).map(_._2)
      val cand = coarseRanked.flatMap(g => order.slice(offsets(g), offsets(g + 1)))
      val want = cand
        .map(j => { var s = 0.0
          // the expression reads FLOAT fine values widened to double
          for (i <- 0 until dim) s += v(i) * fine(j)(i).toFloat.toDouble
          (-s, j) })
        .sorted.take(top).map(_._2)
      assert(got(id) == want, s"id=$id got=${got(id)} want=$want")
    }
    // the cross-group exact tie: when BOTH copies appear (both groups
    // probed), the smaller fine id must rank first; a copy appearing alone
    // is legitimate (its twin's group wasn't among the cProbe probed ones)
    val both = got.values.filter(r => r.contains(3) && r.contains(16))
    assert(both.nonEmpty, "tie case never exercised — adjust the fixture")
    both.foreach(r => assert(r.indexOf(3) < r.indexOf(16), s"fine-id tie broken wrong: $r"))
    // dimension mismatch → null, never a silent common-prefix score
    val bad = vecs.toDF("id", "v").select(HashExprs.centroid_top_grouped(
      slice($"v", 1, 8), coarse, fineFlat, order, offsets, cProbe, top).as("t")).collect()
    assert(bad.forall(_.isNullAt(0)))
  }

  test("two-level IVF: exact twins provably rank 1; perturbed twins with high recall") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 100).select($"vec_id", $"embedding")
    val exact = e.select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    val hits = Similarity.ivfTopKTwoLevel(e.unionByName(exact), "vec_id", "embedding", 5)
      .filter($"qid" < 100000L && $"nn" === $"qid" + 100000L)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(hits.size == 100, s"exact-twin recall ${hits.size}/100")
    assert(hits.values.forall(_ == 1), "an exact twin was not rank 1")
    val pert = e.select(($"vec_id" + 200000L).as("vec_id"),
      transform($"embedding", x =>
        x + (pmod(xxhash64($"vec_id", x), lit(100)).cast("float") - 50f) / 5000f)
        .as("embedding"))
    val pertHits = Similarity.ivfTopKTwoLevel(e.unionByName(pert), "vec_id", "embedding", 5)
      .filter($"qid" < 100000L && $"nn" === $"qid" + 200000L)
      .count()
    assert(pertHits >= 85, s"perturbed-twin recall too low: $pertHits/100")
  }

  test("signBucket inline and packed forms are bit-identical (incl. high-dim)") {
    // low-dim: the corpus embeddings under the production plane count
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 200).select($"vec_id", $"embedding")
    val planes = Similarity.hyperplanes(12, 64)
    val both = e.select($"vec_id",
        Similarity.signBucketInline($"embedding", planes).as("a"),
        Similarity.signBucketPacked($"embedding", planes).as("b"))
      .collect()
    assert(both.nonEmpty && both.forall(r => r.getLong(1) == r.getLong(2)))
    // high-dim: 768-dim vectors × 16 planes — the regime where the public
    // signBucket switches to the packed form (12288 > InlinePlaneLits)
    val hiPlanes = Similarity.hyperplanes(16, 768)
    assert(hiPlanes.map(_.length).sum > Similarity.InlinePlaneLits)
    val hi = (0L until 20L).map { i =>
      (i, Array.tabulate(768)(j =>
        (graft.sources.PageSynth.mix2(i, j.toLong).toDouble / Long.MaxValue).toFloat))
    }.toDF("vec_id", "embedding")
    val hiBoth = hi.select($"vec_id",
        Similarity.signBucketInline($"embedding", hiPlanes).as("a"),
        Similarity.signBucket($"embedding", hiPlanes).as("b"))
      .collect()
    assert(hiBoth.forall(r => r.getLong(1) == r.getLong(2)))
  }

  test("quality score in [0,1] and deterministic") {
    val q = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(TextOps.qualityScore($"text").as("q"))
      .agg(min("q"), max("q")).head()
    assert(q.getDouble(0) >= 0.0 && q.getDouble(1) <= 1.0)
  }

  test("simhash pairs and decontamination release every block but their result's") {
    // the calls behind q_neardup_simhash and q_decontaminate
    val docs = (0 until 40).map { i =>
      (i.toLong, (1 to 30).map(j => s"w${(i * 7 + j * 3) % 11}").mkString(" "))
    }.toDF("doc_id", "text")
    val calls = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "simhashPairs" -> (() => Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)),
      "contamination" -> (() =>
        Dedup.contamination(docs, $"doc_id" % 10 === 0, "doc_id", "text")))
    for ((name, call) <- calls) {
      val before = blockRdds()
      val out = call()
      assert(out.count() > 0, s"$name: the corpus should produce rows")
      val leaked = blockRdds() -- before -- checkpointRdds(out)
      assert(leaked.isEmpty, s"$name left blocks of RDDs $leaked")
    }
  }
}
