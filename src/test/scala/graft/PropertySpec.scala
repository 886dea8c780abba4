package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.GF
import graft.model.Frequency

/** Property tests (SURVEY §5 engine test plan): normalization,
  * coordinate parsing and frequency arithmetic hold over generated
  * inputs, evaluated through real Catalyst expressions. Uses raw
  * ScalaCheck generators with fixed seeds (the scalatest bridge module
  * is not on the offline classpath). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int, seed: Long = 42L): Seq[T] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(seed + i)))

  private def evalNormalize(inputs: Seq[String]): Seq[Option[Double]] =
    inputs.toDF("v").select(GF.normalizeValue(col("v")))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      .toSeq

  test("every missing token normalizes to null, padded or not") {
    val padded = for {
      t <- Gen.oneOf(GF.MissingTokens)
      l <- Gen.choose(0, 3); r <- Gen.choose(0, 3)
    } yield (" " * l) + t + (" " * r)
    val tokens = samples(padded, 100)
    assert(tokens.size == 100)
    assert(evalNormalize(tokens).forall(_.isEmpty))
  }

  test("numeric strings survive normalization with their value") {
    val nums = Gen.chooseNum(-1e9, 1e9).map(v => math.rint(v * 100) / 100)
    val vs = samples(nums, 100)
    val got = evalNormalize(vs.map(_.toString))
    assert(got == vs.map(Some(_)))
  }

  test("cell coordinates round-trip through parse (GF + native exprs)") {
    val coords = for {
      colIdx <- Gen.choose(1, 800)
      row <- Gen.choose(1, 99999)
    } yield (colIdx, row)
    def letters(i: Int): String = {
      var n = i; val sb = new StringBuilder
      while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
      sb.toString
    }
    val cs = samples(coords, 200)
    val strs = cs.map { case (c, r) => s"${letters(c)}$r" }
    val viaGf = strs.toDF("c")
      .select(GF.cellRow(col("c")), GF.cellColIndex(col("c")))
      .collect().map(r => (r.getInt(1), r.getInt(0))).toSeq
    assert(viaGf == cs)
    // the native codegen expressions agree with the HOF composition
    GraftExtensions.register(spark)
    strs.toDF("c").createOrReplaceTempView("prop_coords")
    val viaNative = spark.sql(
      "SELECT graft_cell_col(c), graft_cell_row(c) FROM prop_coords")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(viaNative == cs)
  }

  test("frequency gap detection is exact on punctured regular series") {
    val cases = for {
      freq <- Gen.oneOf(Frequency.Annual, Frequency.Semester,
        Frequency.Quarterly, Frequency.Monthly)
      n <- Gen.choose(6, 30)
      holes <- Gen.someOf(2 until n - 1)
    } yield (freq, n, holes.toSet)
    samples(cases, 25).foreach { case (freq, n, holes) =>
      val base = java.time.LocalDate.of(2000, 1, 1)
      val m = freq.months.get
      val dates = (0 until n).filterNot(holes)
        .map(i => java.sql.Date.valueOf(base.plusMonths(i.toLong * m)))
      val df = dates.map(("s", _)).toDF("serie_id", "indice_tiempo")
        .withColumn("valor", lit(1.0))
      val gaps = operators.TimeSeriesOps.frequencyGaps(df, freq).count()
      // adjacent surviving pairs with at least one hole between them
      val kept = (0 until n).filterNot(holes)
      val expected = kept.zip(kept.tail).count { case (a, b) => b - a > 1 }
      assert(gaps == expected,
        s"freq=$freq n=$n holes=$holes: got $gaps want $expected")
    }
  }

  test("packing invariants: bins contiguous, every bin starts below capacity") {
    val cases = for {
      n <- Gen.choose(1, 40)
      toks <- Gen.listOfN(n, Gen.choose(1L, 300L))
      cap <- Gen.oneOf(100L, 256L, 1000L)
    } yield (toks, cap)
    samples(cases, 20).foreach { case (toks, cap) =>
      val df = toks.zipWithIndex
        .map { case (t, i) => ("s", i.toLong, t) }
        .toDF("source", "doc_id", "n_tokens")
      val packed = operators.Packing
        .packBins(df, "source", "doc_id", "n_tokens", cap)
        .orderBy("doc_id")
        .select("doc_id", "n_tokens", "bin")
        .as[(Long, Long, Long)].collect()
      // bins are non-decreasing in stream order and start at 0
      assert(packed.head._3 == 0L)
      packed.sliding(2).foreach { case Array(a, b) =>
        assert(b._3 >= a._3, s"bins decreased: $a -> $b (cap=$cap)")
      case _ => ()
      }
      // each doc's bin equals exclusive-cumsum div capacity (closed form)
      var cum = 0L
      packed.foreach { case (id, t, bin) =>
        assert(bin == cum / cap, s"doc $id: bin $bin != ${cum / cap}")
        cum += t
      }
    }
  }

  test("chunkTokens invariants: full coverage, exact overlap, bounded sizes") {
    val cases = for {
      n <- Gen.choose(1, 60)
      chunk <- Gen.choose(2, 20)
      overlap <- Gen.choose(0, 10).map(o => math.min(o, chunk - 1))
    } yield (n, chunk, overlap)
    samples(cases, 20).foreach { case (n, chunk, overlap) =>
      val text = (1 to n).map(i => s"w$i").mkString(" ")
      val out = operators.Packing
        .chunkTokens(Seq((1L, text)).toDF("doc_id", "text"),
          "text", "doc_id", chunk, overlap)
        .orderBy("chunk_idx")
        .select("chunk_idx", "start_pos", "n_tokens", "chunk_text")
        .as[(Int, Long, Int, String)].collect()
      val stride = chunk - overlap
      // indices are 0..k contiguous, starts at stride spacing
      out.zipWithIndex.foreach { case ((idx, start, _, _), i) =>
        assert(idx == i && start == i.toLong * stride,
          s"bad chunk grid (n=$n c=$chunk o=$overlap): ${out.toSeq}")
      }
      // every token covered exactly by the union of chunks, in order
      val tokens = out.flatMap(_._4.split(" "))
      val expected = out.flatMap { case (_, s, len, _) =>
        (s.toInt + 1) to (s.toInt + len) }.map(i => s"w$i")
      assert(tokens.sameElements(expected))
      val covered = out.flatMap { case (_, s, len, _) =>
        s.toInt until (s.toInt + len) }.toSet
      assert(covered == (0 until n).toSet,
        s"coverage gap (n=$n c=$chunk o=$overlap)")
      // all chunks are full except possibly the last; none exceeds chunk
      assert(out.forall(_._3 <= chunk))
      out.dropRight(1).foreach { case (_, _, len, _) =>
        assert(len == chunk, s"non-tail chunk short (n=$n c=$chunk o=$overlap)")
      }
      // consecutive chunks share exactly `overlap` tokens
      out.sliding(2).foreach {
        case Array((_, _, _, t1), (_, _, _, t2)) =>
          val a = t1.split(" "); val b = t2.split(" ")
          assert(a.takeRight(overlap).sameElements(b.take(overlap)))
        case _ => ()
      }
    }
  }

  test("chunkDedup conservation: kept chunks == distinct chunks in corpus") {
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val cases = for {
      nDocs <- Gen.choose(1, 8)
      texts <- Gen.listOfN(nDocs,
        Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" "))))
    } yield texts
    samples(cases, 15).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val r = operators.Dedup.chunkDedup(docs, "text", "doc_id")
        .agg(sum("n_chunks"), sum("n_kept")).as[(Long, Long)].head()
      // every chunk appears exactly once among the kept set
      val allChunks = texts.map(t =>
        t.split("\\s+").filter(_.nonEmpty).grouped(8).map(_.mkString(" ")).toSeq)
      assert(r._1 == allChunks.map(_.size).sum.toLong)
      assert(r._2 == allChunks.flatten.distinct.size.toLong,
        s"kept ${r._2} != distinct ${allChunks.flatten.distinct.size}")
    }
  }

  test("exactSubstrSpans parity: spans == brute-force repeated-gram islands") {
    // Tiny vocabulary forces heavy verbatim repetition at arbitrary
    // offsets — the regime exactSubstrSpans exists for. The brute side
    // groups by gram CONTENT (no hashing), so this also asserts the
    // 64-bit hash-pair identity never merges distinct grams here.
    val l = 3
    val word = Gen.oneOf("aa", "bb", "cc")
    val cases = for {
      nDocs <- Gen.choose(1, 7)
      texts <- Gen.listOfN(nDocs,
        Gen.choose(1, 20).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" "))))
    } yield texts
    samples(cases, 20).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = operators.Dedup
        .exactSubstrSpans(docs, "text", "doc_id", minTokens = l)
        .select("doc_id", "span_start", "span_end")
        .as[(Long, Int, Int)].collect().toSet
      // brute force: count L-grams by content, flag positions, islands
      val grams = texts.zipWithIndex.flatMap { case (t, i) =>
        val toks = t.split("\\s+").filter(_.nonEmpty).toSeq
        (0 to toks.size - l).map(p => (i.toLong, p, toks.slice(p, p + l)))
      }
      val counts = grams.groupBy(_._3).map { case (g, xs) => g -> xs.size }
      val want = grams.filter(g => counts(g._3) >= 2)
        .groupBy(_._1).flatMap { case (id, xs) =>
          val ps = xs.map(_._2).sorted
          // split sorted positions into consecutive runs
          ps.foldLeft(List.empty[(Int, Int)]) {
            case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
            case (acc, p) => (p, p) :: acc
          }.map { case (s, e) => (id, s, e + l) }
        }.toSet
      assert(got == want, s"texts=$texts got=$got want=$want")
    }
  }

  test("PPJoin length/positional filters: same verified pair set as the unfiltered build") {
    // Generated corpora from a tiny vocabulary force heavy shingle
    // overlap — the regime where the filters do real cutting. The
    // verified pair set must be IDENTICAL with and without them
    // (exactness guarantee), and the filtered candidate set must be a
    // subset of (and across the whole sample, strictly smaller than)
    // the unfiltered one — i.e. the filters prune, never re-admit.
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val cases = for {
      nDocs <- Gen.choose(2, 10)
      texts <- Gen.listOfN(nDocs,
        Gen.choose(3, 25).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" "))))
      t <- Gen.oneOf(0.3, 0.5, 0.7, 0.9)
    } yield (texts, t)
    var candFiltered = 0L
    var candUnfiltered = 0L
    samples(cases, 12).foreach { case (texts, t) =>
      val docs = texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("doc_id", "text")
      val on = operators.Dedup.prefixFilterParts(
        docs, "text", "doc_id", t, shingleN = 3)
      val off = operators.Dedup.prefixFilterParts(
        docs, "text", "doc_id", t, shingleN = 3, ppFilters = false)
      def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val candOn = pairs(on.cand)
      val candOff = pairs(off.cand)
      assert(candOn.subsetOf(candOff),
        s"filters admitted pairs outside the unfiltered build: ${candOn -- candOff}")
      candFiltered += candOn.size
      candUnfiltered += candOff.size
      val vOn = operators.Dedup.verifyCandidates(on, "doc_id", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val vOff = operators.Dedup.verifyCandidates(off, "doc_id", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(vOn == vOff,
        s"t=$t verified sets diverge: only-on=${vOn -- vOff} only-off=${vOff -- vOn}")
      // the merge-based verify must equal the brute force computed in
      // plain Scala over the SAME shingle relation (independent of the
      // expression code path), including the exact jaccard value
      val shingleSets = on.sh.collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._1).map { case (id, rows) => id -> rows.map(_._2).toSet }
      val ids = shingleSets.keys.toSeq.sorted
      val brute = (for {
        ai <- ids.indices; bi <- (ai + 1) until ids.size
        sa = shingleSets(ids(ai)); sb = shingleSets(ids(bi))
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter)
        if j >= t
      } yield (ids(ai), ids(bi),
        BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)).toSet
      assert(vOn == brute,
        s"t=$t verify != brute force: only-verify=${vOn -- brute} " +
          s"only-brute=${brute -- vOn}")
      // suffix-filter sandwich: verified ⊆ survivors ⊆ candidates
      val survivors = pairs(
        operators.Dedup.suffixFilterSurvivors(on, "doc_id", t))
      assert(survivors.subsetOf(candOn),
        "suffix filter admitted pairs outside the candidate set")
      assert(vOn.map(v => (v._1, v._2)).subsetOf(survivors),
        s"t=$t suffix filter dropped a TRUE pair: " +
          s"${vOn.map(v => (v._1, v._2)) -- survivors}")
    }
    assert(candFiltered < candUnfiltered,
      s"filters never pruned a candidate across the sample ($candFiltered vs $candUnfiltered)")
  }

  test("CharClassCounts / CountInSet equal their regex/HOF reference " +
      "forms on generated text (incl. non-ASCII, controls, empties)") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions.{CharClassCountsExpr, CountInSetExpr}
    val charGen = Gen.frequency(
      8 -> Gen.alphaNumChar,
      3 -> Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r'),
      3 -> Gen.oneOf('!', '.', ',', '_', '-', '%'),
      2 -> Gen.oneOf('á', 'ß', '中', '€', ' '),
      1 -> Gen.oneOf('\u0001', '\u007F'))
    val textGen = Gen.choose(0, 60).flatMap(n =>
      Gen.listOfN(n, charGen).map(_.mkString))
    val texts = samples(textGen, 150) :+ "" :+ "the la und der 中中"
    val df = texts.toDF("t")
    val cc = ColumnBridge.column(CharClassCountsExpr(
      ColumnBridge.expression(col("t"))))
    val words = Seq("the", "la", "der", "und")
    val got = df.select(
      cc.getItem(0), cc.getItem(1), cc.getItem(2), cc.getItem(3),
      ColumnBridge.column(CountInSetExpr(ColumnBridge.expression(
        GF.wsTokens(lower(col("t")))), words))).collect()
    val want = df.select(
      length(col("t")).cast("long"),
      (length(col("t")) -
        length(regexp_replace(col("t"), "[^A-Za-z0-9\\s]", "")))
        .cast("long"),
      (length(col("t")) - length(regexp_replace(col("t"), "[0-9]", "")))
        .cast("long"),
      (length(col("t")) - length(regexp_replace(col("t"), "[A-Z]", "")))
        .cast("long"),
      size(filter(GF.wsTokens(lower(col("t"))),
        w => w.isin(words.map(lit): _*))).cast("long")).collect()
    got.zip(want).zip(texts).foreach { case ((g, w), t) =>
      assert(g.toSeq == w.toSeq,
        s"mismatch on ${t.map(c => f"\\u${c.toInt}%04X").mkString}: " +
          s"got ${g.toSeq}, want ${w.toSeq}")
    }
  }

  test("SetSim partition filter bounds: hammingLower never exceeds the " +
      "true symmetric difference; jaccardOrNeg rejects only below-t pairs") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val setGen = for {
      n <- Gen.choose(0, 40)
      elems <- Gen.listOfN(n, Gen.choose(0, 60).map(i => f"s$i%02d"))
    } yield elems.distinct.sorted
    def arr(s: Seq[String]): ArrayData =
      ArrayData.toArrayData(s.map(UTF8String.fromString).toArray)
    val cases = samples(Gen.zip(setGen, setGen,
      Gen.oneOf(0.1, 0.3, 0.5, 0.8, 1.0)), 200)
    cases.foreach { case (a, b, t) =>
      val trueDelta = ((a.toSet -- b.toSet) ++ (b.toSet -- a.toSet)).size
      val bound = functions.SetSim.hammingLower(
        arr(a), 0, a.size, arr(b), 0, b.size, functions.SetSim.MaxDepth)
      assert(bound <= trueDelta,
        s"hammingLower over-bounds: $bound > $trueDelta for $a vs $b")
      val inter = (a.toSet & b.toSet).size
      val trueJ = if (a.isEmpty && b.isEmpty) 0.0
        else inter.toDouble / (a.size + b.size - inter)
      val got = functions.SetSim.jaccardOrNeg(arr(a), arr(b), t)
      if (trueJ >= t)
        assert(got == trueJ, s"true pair rejected or wrong J: got $got, " +
          s"true $trueJ, t=$t for $a vs $b")
      else assert(got < 0 || got == trueJ,
        s"below-t pair returned a wrong value: $got vs $trueJ")
    }
  }

  test("kmeans assignments are deterministic, bounded, and total") {
    import graft.operators.Similarity
    val vecGen = Gen.listOfN(16, Gen.choose(-5.0, 5.0))
    val vecs = samples(vecGen, 60).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray) }
      .toDF("vec_id", "embedding")
    def assignments() = Similarity
      .kmeansCells(vecs, "vec_id", "embedding", k = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("cell")).toMap
    val a = assignments()
    assert(a.size == 60) // total: every vector got a cell
    assert(a.values.forall(c => c >= 0 && c < 4))
    assert(a.values.toSet.size > 1, "degenerate single-cell clustering")
    assert(assignments() == a, "kmeans not deterministic across runs")
  }

  test("pq: bitwise-identical vectors always share the code array") {
    import graft.operators.Similarity
    val vecGen = Gen.listOfN(32, Gen.choose(-3.0, 3.0))
    val base = samples(vecGen, 25).map(_.toArray)
    // each vector appears twice under different ids
    val vecs = base.zipWithIndex.flatMap { case (v, i) =>
      Seq((i.toLong, v), (1000L + i, v)) }.toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(vecs, "vec_id", "embedding",
      m = 4, k = 4, iters = 1, dims = 32)
    val codes = Similarity.pqEncode(vecs, "vec_id", "embedding", books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    (0 until 25).foreach { i =>
      assert(codes(i.toLong) == codes(1000L + i),
        s"duplicate vector $i encoded differently") }
  }

  test("duplicateClusters converges in O(log diameter) rounds on chains") {
    // a 200-node path graph has diameter 199: plain one-hop propagation
    // needs ~200 rounds, pointer jumping ~log2(200) ≈ 8. maxIter=12
    // (with margin) must reach the exact fixpoint — every node labeled
    // with the chain's minimum — and generated chain offsets/orderings
    // must not matter.
    val cases = for {
      base <- Gen.choose(0L, 1000000L)
      reversed <- Gen.oneOf(true, false)
    } yield (base, reversed)
    samples(cases, 3).foreach { case (base, reversed) =>
      val n = 200
      val edges = (0 until n - 1).map { i =>
        val (a, b) = (base + i, base + i + 1)
        if (reversed) (b, a) else (a, b)
      }
      // driverMaxEdges = 0 forces the DISTRIBUTED loop — this test
      // pins its O(log diameter) round bound, not the driver path
      val clusters = graft.operators.Dedup
        .duplicateClusters(edges.toDF("id1", "id2"), maxIter = 12,
          driverMaxEdges = 0L)
        .as[(Long, Long)].collect()
      assert(clusters.length == n)
      assert(clusters.forall(_._2 == base),
        s"chain at $base not fully labeled in 12 rounds: " +
          clusters.filter(_._2 != base).take(5).mkString(","))
    }
  }

  test("asofJoin matches a brute-force reference over generated streams") {
    // property: for every left row, asof_mark equals the mark of the
    // right row with the greatest time <= left time within the key
    // (None when no such row) — checked against a plain Scala scan
    val cases = for {
      nLeft <- Gen.choose(1, 40)
      nRight <- Gen.choose(0, 15)
      seedL <- Gen.choose(0L, 10000L)
    } yield (nLeft, nRight, seedL)
    samples(cases, 5).zipWithIndex.foreach { case ((nL, nR, sd), ci) =>
      // deterministic pseudo-random times over 2 keys, collisions likely
      def t(i: Long) = (sd + i * 37) % 50
      val left = (0 until nL).map(i =>
        (s"k${i % 2}", t(i), i.toLong))
      val right = (0 until nR).map(j =>
        (s"k${j % 2}", t(100L + j * 3), j * 1.5))
        // operator contract: right unique per (key, time)
        .groupBy(x => (x._1, x._2)).map(_._2.maxBy(_._3)).toSeq
      val got = operators.TimeSeriesOps.asofJoin(
          left.toDF("k", "t", "rowid"), right.toDF("k", "t", "mark"),
          Seq("k"), "t", Seq("mark"))
        .select("rowid", "asof_mark").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      left.foreach { case (k, lt, id) =>
        val expect = right.filter(r => r._1 == k && r._2 <= lt)
          .sortBy(_._2).lastOption.map(_._3)
        assert(got(id) == expect,
          s"case $ci row $id key $k t=$lt: got ${got(id)}, want $expect")
      }
    }
  }

  test("tableBounds: detected/table ends are exact over generated tails") {
    val cases = for {
      nDates <- Gen.choose(1, 20)
      nJunk <- Gen.choose(0, 5)
    } yield (nDates, nJunk)
    samples(cases, 12).foreach { case (nDates, nJunk) =>
      val start = 3 // data starts at A3
      val rows =
        (0 until nDates).map(i =>
          ("s", start + i, 1, f"2020-${i % 12 + 1}%02d-01")) ++
          (0 until nJunk).map(j =>
            ("s", start + nDates + j, 1, s"fuente $j"))
      val grid = rows.toDF("sheet", "row", "col", "value")
      val b = sources.CellGrid
        .tableBoundsAll(grid, Seq(("d", "s", "A3", "M")))
        .drop("distribution_id").head()
      assert(b.getInt(0) == start + nDates - 1, "detected_end")
      assert(b.getInt(1) == start + nDates + nJunk - 1, "table_end")
    }
  }

  test("duplicateClusters: driver and distributed paths agree across the dispatch seam") {
    import graft.operators.Dedup
    // ground truth: brute-force union-find
    def refClusters(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x; while (parent(r) != r) r = parent(r); r
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 60L)
      b <- Gen.chooseNum(0L, 60L) if a != b
    } yield (a, b)

    for (trial <- 0 until 3) {
      // random edges + a chain (worst case for plain propagation) + a star
      val random = samples(edgeGen, 70, seed = 7000L + trial)
      val chain = (100L until 115L).map(i => (i, i + 1))
      val star = (200L until 208L).map(i => (250L, i))
      val edges = (random ++ chain ++ star).distinct
      val df = edges.toDF("id1", "id2")
      val expected = refClusters(edges)

      // the seam itself: gate exactly at nEdges (driver path) vs one
      // below (distributed path) — plus the forced extremes
      val nEdges = df.distinct().count()
      val variants = Seq(
        ("driver (gate = nEdges)", nEdges),
        ("distributed (gate = nEdges - 1)", nEdges - 1),
        ("driver (huge gate)", Long.MaxValue),
        ("distributed (gate 0)", 0L))
      variants.foreach { case (name, gate) =>
        val got = Dedup.duplicateClusters(df, driverMaxEdges = gate)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"trial $trial, $name")
      }

      // non-integral ids always take the distributed path; zero-padded
      // strings preserve the min-id ordering so labels must map 1:1
      val sdf = df.selectExpr(
        "format_string('%05d', id1) AS id1",
        "format_string('%05d', id2) AS id2")
      val gotS = Dedup.duplicateClusters(sdf,
          driverMaxEdges = Long.MaxValue)
        .collect().map(r => r.getString(0).toLong ->
          r.getString(1).toLong).toMap
      assert(gotS == expected, s"trial $trial, string ids")
    }
  }

  test("BPE training matches a brute-force reference on generated corpora") {
    import graft.operators.TextAnalysis
    // reference implementation: classic Sennrich BPE over (word, freq)
    // with greedy left-to-right merge application and (count desc,
    // pair asc) tie-break — written against symbol SEQUENCES, with no
    // string-replace trick, so it independently checks the engine's
    // delimited-string representation
    def refBpe(words: Map[String, Long], nMerges: Int)
        : (List[(String, String)], Map[String, List[String]]) = {
      var segs = words.map { case (w, _) => w -> w.map(_.toString).toList }
      var merges = List.empty[(String, String)]
      for (_ <- 1 to nMerges) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        segs.foreach { case (w, syms) =>
          syms.zip(syms.drop(1)).foreach { p =>
            counts(p) = counts.getOrElse(p, 0L) + words(w)
          }
        }
        if (counts.nonEmpty) {
          // tie-break on the WRAPPED pair string, matching the engine
          val best = counts.toSeq.minBy { case ((a, b), c) =>
            (-c, s"<$a> <$b>") }._1
          merges = merges :+ best
          segs = segs.map { case (w, syms) =>
            val out = scala.collection.mutable.ListBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == best._1 &&
                  syms(i + 1) == best._2) {
                out += best._1 + best._2; i += 2
              } else { out += syms(i); i += 1 }
            }
            w -> out.toList
          }
        }
      }
      (merges, segs)
    }

    val wordGen = Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aabbcd01".toSeq)).map(_.mkString))
    for (trial <- 0 until 3) {
      val corpus = samples(wordGen, 60, seed = 1000L + trial)
        .grouped(6).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      val df = corpus.toDF("doc_id", "text")
      val freqs = corpus.flatMap(_._2.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
      val (expMerges, expSegs) = refBpe(freqs, 6)

      val (gotMerges, table) = TextAnalysis.bpeLearn(df, "text", "doc_id", 6)
      assert(gotMerges == expMerges.map { case (a, b) => s"<$a> <$b>" },
        s"trial $trial merge order")
      val gotSegs = table.select("word", "seg").collect()
        .map(r => r.getString(0) ->
          r.getString(1).split(" ").map(_.stripPrefix("<")
            .stripSuffix(">")).toList).toMap
      assert(gotSegs == expSegs, s"trial $trial segmentations")
    }
  }

  test("weightedSample: A-ES priorities favor weight ~proportionally") {
    import spark.implicits._
    import graft.operators.Sampling
    // 200 strata, each a two-horse race: weight 9 vs weight 1. Under
    // A-ES the heavy row should win P = 9/10 of races; the hash-derived
    // uniforms are fixed, so this asserts the hash universe is unbiased
    // enough to realize the designed odds (binomial 3-sigma band).
    val rows = (0 until 200).flatMap { s =>
      Seq((s.toString, s * 2L, 9L), (s.toString, s * 2L + 1, 1L))
    }
    val winners = Sampling.weightedSample(
        rows.toDF("grp", "id", "w"), "grp", "id", "w", k = 1)
      .select("id").as[Long].collect()
    assert(winners.length == 200)
    val heavyWins = winners.count(_ % 2 == 0)
    // E = 180, sigma = sqrt(200*0.9*0.1) ≈ 4.2 -> [167, 193]
    assert(heavyWins >= 167 && heavyWins <= 193,
      s"heavy won $heavyWins/200, expected ~180")
  }

  test("jaroWinkler: symmetric, bounded, 1 iff equal (generated strings)") {
    import graft.functions.TextExpressions.jaroWinkler
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val word = Gen.listOfN(8, Gen.alphaLowerChar).map(_.mkString)
      .flatMap(s => Gen.choose(0, 8).map(s.take))
    val pairs = samples(Gen.zip(word, word), 300)
    pairs.foreach { case (a, b) =>
      val ab = jaroWinkler(u(a), u(b))
      assert(ab == jaroWinkler(u(b), u(a)), s"asymmetric on ($a, $b)")
      assert(ab >= 0.0 && ab <= 1.0, s"out of range on ($a, $b): $ab")
      if (a == b) assert(ab == 1.0, s"identical ($a) scored $ab")
      else assert(ab < 1.0 || a.isEmpty || b.isEmpty,
        s"distinct ($a, $b) scored 1.0")
    }
  }

  test("weightedMedian: equals the expanded-multiset lower median (generated)") {
    import graft.operators.Profiling
    val gen = Gen.listOfN(40,
      Gen.zip(Gen.choose(-50L, 50L), Gen.choose(1L, 5L)))
    samples(gen, 25).zipWithIndex.foreach { case (rows, i) =>
      val df = rows.map { case (v, w) => ("g", v, w) }.toDF("g", "v", "w")
      val got = Profiling.weightedMedian(df, "g", "v", "w")
        .collect().head.getLong(1)
      // reference: expand each value w times, lower median of the sorted list
      val expanded = rows.flatMap { case (v, w) =>
        Seq.fill(w.toInt)(v) }.sorted
      val want = expanded((expanded.size - 1) / 2)
      assert(got == want, s"case $i: got $got want $want rows=$rows")
    }
  }

  test("native hash32/hash32Pair equal the composed md5 chain (generated Unicode)") {
    // arbitrary Unicode (multi-byte, controls, digits, punctuation,
    // empty) — the fixture pins in GFSpec cover curated cases; this is
    // the property-style sweep over generated strings
    val uni = Gen.listOf(Gen.frequency(
      4 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '\t', '\n', '-', '_', '!', '?', '.', ','),
      2 -> Gen.choose(' ', 'ɏ'),
      1 -> Gen.choose('Ѐ', 'ӿ'),
      1 -> Gen.choose('一', '仿'))).map(_.mkString)
    val strs = samples(uni, 300)
    val rows = strs.toDF("s").select(
        GF.hash32(col("s"), 1).as("f1"),
        conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long").as("s1"),
        GF.hash32(col("s"), 9).as("f9"),
        conv(substring(md5(col("s")), 9, 8), 16, 10).cast("long").as("s9"),
        GF.hash32Pair(col("s")).as("p"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"hash32@1 diverged: $r")
      assert(r.getLong(2) == r.getLong(3), s"hash32@9 diverged: $r")
      val p = r.getStruct(4)
      assert(p.getLong(0) == r.getLong(0) && p.getLong(1) == r.getLong(2),
        s"hash32Pair diverged: $r")
    }
  }

  test("native normalizeText/normTokens equal the regex chains (generated Unicode)") {
    import graft.operators.Dedup
    val uni = Gen.listOf(Gen.frequency(
      4 -> Gen.alphaNumChar,
      3 -> Gen.oneOf(' ', '\t', '\n', '\r', '-', '~', '#'),
      2 -> Gen.choose(' ', 'ɏ'), // Latin-1/ext: É, ü, İ-adjacent
      1 -> Gen.choose('Α', 'ω'), // Greek (case-mapped)
      1 -> Gen.choose('一', '仿'))).map(_.mkString)
    val strs = samples(uni, 300)
    val regexNorm = trim(regexp_replace(
      regexp_replace(lower(col("s")), "[^a-z0-9]+", " "), "\\s+", " "))
    val rows = strs.toDF("s").select(
        Dedup.normalizeText(col("s")).as("fastN"), regexNorm.as("slowN"),
        Dedup.normTokens(col("s")).as("fastT"),
        GF.wsTokens(regexNorm).as("slowT"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1), s"normText diverged: $r")
      assert(r.getSeq[String](2) == r.getSeq[String](3),
        s"normTokens diverged: $r")
    }
  }

  test("weightedMedian: wide value domain spans many 4096-buckets (generated)") {
    // stress-tests the single-window weightedMedian over a value domain
    // far wider than one 4096-bucket, with negative values and multiple
    // groups; reference is the same expanded-multiset lower median
    import graft.operators.Profiling
    val gen = Gen.listOfN(60, Gen.zip(Gen.oneOf("a", "b"),
      Gen.choose(-300000L, 300000L), Gen.choose(1L, 4L)))
    samples(gen, 15).zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("g", "v", "w")
      val got = Profiling.weightedMedian(df, "g", "v", "w")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      for (g <- rows.map(_._1).distinct) {
        val expanded = rows.filter(_._1 == g)
          .flatMap { case (_, v, w) => Seq.fill(w.toInt)(v) }.sorted
        val want = expanded((expanded.size - 1) / 2)
        assert(got(g) == want, s"case $i group $g: got ${got(g)} " +
          s"want $want")
      }
    }
  }

  test("skyline2D: equals brute-force dominance filter (generated points)") {
    import graft.operators.Profiling
    val gen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 20L), Gen.choose(0L, 20L)))
    samples(gen, 20).zipWithIndex.foreach { case (pts, i) =>
      val df = pts.zipWithIndex.map { case ((x, y), id) =>
        ("g", x, y, id.toLong) }.toDF("g", "x", "y", "id")
      val got = df.transform(d =>
          Profiling.skyline2D(d, "g", "x", "y"))
        .select("id").collect().map(_.getLong(0)).toSet
      val want = pts.zipWithIndex.filterNot { case ((x, y), _) =>
        pts.exists { case (qx, qy) =>
          qx <= x && qy >= y && (qx < x || qy > y) }
      }.map(_._2.toLong).toSet
      assert(got == want, s"case $i: got $got want $want pts=$pts")
    }
  }

  test("modeBy: winner has max count, smallest value on ties (generated)") {
    import graft.operators.Profiling
    val gen = Gen.listOfN(50, Gen.choose(0, 9).map(_.toString))
    samples(gen, 25).zipWithIndex.foreach { case (vals, i) =>
      val df = vals.map(("g", _)).toDF("g", "v")
      val r = Profiling.modeBy(df, "g", "v").collect().head
      val counts = vals.groupBy(identity).view.mapValues(_.size).toMap
      val mx = counts.values.max
      val want = counts.filter(_._2 == mx).keys.min
      assert(r.getString(1) == want && r.getLong(2) == mx.toLong &&
        r.getLong(3) == counts.count(_._2 == mx).toLong,
        s"case $i: got $r want ($want, $mx) vals=$vals")
    }
  }

  test("foldText: idempotent and ascii-stable (generated strings)") {
    import graft.functions.TextExpressions.foldText
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val mixed = Gen.listOfN(12, Gen.frequency(
      6 -> Gen.alphaNumChar, 2 -> Gen.oneOf('é', 'Ñ', 'À', 'ü', 'ç'),
      1 -> Gen.const(' '), 1 -> Gen.oneOf('œ', 'ß'))).map(_.mkString)
    samples(mixed, 300).foreach { s =>
      val once = foldText(u(s)).toString
      assert(foldText(u(once)).toString == once, s"not idempotent on $s")
      if (s.forall(c => c < 128 && !c.isUpper))
        assert(once == s, s"lower-ascii changed: $s -> $once")
    }
  }
}
