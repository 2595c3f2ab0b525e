package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.query.{QueryBuilder, Resample}

/** Property tests in the reference's Hypothesis style (SURVEY §5): random
  * frames, oracle computed driver-side. One Spark job per property (the
  * random batch rides a single DataFrame) keeps runtime sane.
  */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int, seed: Long): List[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed)).get

  test("property: StatsPruner never prunes a file containing a matching row") {
    // Soundness of the Kleene evaluator: for random value sets (the
    // "file"), random predicate trees over one column, keepFile == false
    // must imply NO row satisfies the predicate. (Completeness — pruning
    // as often as possible — is quality, not correctness, and is covered
    // by the file-count asserts in LibrarySpec.)
    import graft.query.Expr
    import graft.query.Expr._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("x", LongType)))

    // Pandas missing-value semantics (what Expr.compile produces): a
    // missing row fails ==/</<=/>/>=/isin and SATISFIES !=/isnotin —
    // comparisons never yield null, so the row oracle is plain Boolean.
    def evalRow(e: Expr, x: Option[Long]): Boolean = e match {
      case Binary(BinOp.And, a, b) => evalRow(a, x) && evalRow(b, x)
      case Binary(BinOp.Or, a, b) => evalRow(a, x) || evalRow(b, x)
      case Unary(UnOp.Not, a) => !evalRow(a, x)
      case Binary(op, Col("x"), Lit(v: Long)) => x match {
        case None => op == BinOp.Ne
        case Some(xv) => op match {
          case BinOp.Lt => xv < v
          case BinOp.Le => xv <= v
          case BinOp.Gt => xv > v
          case BinOp.Ge => xv >= v
          case BinOp.Eq => xv == v
          case BinOp.Ne => xv != v
          case _ => throw new IllegalStateException
        }
      }
      case IsIn(Col("x"), vs, neg) =>
        val in = x.exists(vs.asInstanceOf[Seq[Long]].contains)
        if (neg) !in else in
      case other => throw new IllegalStateException(other.toString)
    }

    val litGen = Gen.chooseNum(-50L, 50L)
    val cmpGen: Gen[Expr] = for {
      op <- Gen.oneOf(BinOp.Lt, BinOp.Le, BinOp.Gt, BinOp.Ge, BinOp.Eq, BinOp.Ne)
      v <- litGen
    } yield Binary(op, Col("x"), Lit(v))
    val isinGen: Gen[Expr] = for {
      vs <- Gen.nonEmptyListOf(litGen)
      neg <- Gen.oneOf(true, false)
    } yield IsIn(Col("x"), vs, neg)
    def tree(depth: Int): Gen[Expr] =
      if (depth == 0) Gen.oneOf(cmpGen, isinGen)
      else Gen.frequency(
        3 -> cmpGen,
        2 -> isinGen,
        2 -> (for { a <- tree(depth - 1); b <- tree(depth - 1) } yield Binary(BinOp.And, a, b)),
        2 -> (for { a <- tree(depth - 1); b <- tree(depth - 1) } yield Binary(BinOp.Or, a, b)),
        2 -> tree(depth - 1).map(Unary(UnOp.Not, _)))

    var pruned = 0
    var kept = 0
    for (seed <- 1L to 200L) {
      // ~1 in 5 rows is missing — the stats sidecar never sees them, so
      // the pruner must stay sound for predicates missing rows satisfy
      // (Ne/isnotin under pandas semantics)
      val vals = sample(
        Gen.frequency(4 -> Gen.chooseNum(-40L, 40L).map(Option(_)), 1 -> Gen.const(None)),
        8, seed).distinct
      val present = vals.flatten
      val stats =
        if (present.isEmpty) Map.empty[String, (String, String)]
        else Map("x" -> (present.min.toString, present.max.toString))
      val e = tree(3).apply(Gen.Parameters.default, Seed(seed * 7 + 1)).get
      val keep = graft.core.StatsPruner.keepFile(e, stats, schema)
      val anyMatch = vals.exists(x => evalRow(e, x))
      if (!keep) {
        pruned += 1
        assert(!anyMatch, s"seed=$seed pruned a file with matching rows: $e vals=$vals")
      } else kept += 1
    }
    assert(pruned > 10, s"property vacuous: pruner never fired (pruned=$pruned kept=$kept)")
  }

  test("StatsPruner string bounds use UTF-8 byte order (supplementary planes)") {
    import graft.query.Expr._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("s", StringType)))
    val rep = "�" // U+FFFD: UTF-8 EF BF BD
    val supp = "𐀀" // U+10000: UTF-8 F0 90 80 80 — ABOVE U+FFFD in byte order
    // byte-order envelope of a file holding both values: min=U+FFFD, max=U+10000
    val stats = Map("s" -> (rep, supp))
    // equality against either bound must keep the file; Java's UTF-16
    // ordering would call U+FFFD > U+10000 and wrongly prune the min probe
    assert(graft.core.StatsPruner.keepFile(Binary(BinOp.Eq, Col("s"), Lit(rep)), stats, schema))
    assert(graft.core.StatsPruner.keepFile(Binary(BinOp.Eq, Col("s"), Lit(supp)), stats, schema))
    // provably-below-range prunes ("a" sorts below both bounds)
    assert(!graft.core.StatsPruner.keepFile(Binary(BinOp.Lt, Col("s"), Lit("a")), stats, schema))
    // timestamp columns are never pruned (literal-coercion units differ)
    val tsSchema = StructType(Seq(StructField("t", TimestampType)))
    assert(graft.core.StatsPruner.keepFile(
      Binary(BinOp.Lt, Col("t"), Lit(0L)), Map("t" -> ("1704067200000000", "1704067200000001")), tsSchema))
  }

  test("property: resample buckets partition the timeline for random ts/rules") {
    val tsGen = Gen.chooseNum(-1000000000000L, 1000000000000L)
    for ((ruleNs, seed) <- Seq((7L, 1L), (1000L, 2L), (3600L * 1000000000L, 3L))) {
      val ts = sample(tsGen, 300, seed).distinct
      val df = ts.map(t => (t, 1.0)).toDF("ts", "v")
      val rows = df.select(
        col("ts"),
        Resample.bucketStart(col("ts"), ruleNs, Resample.Left, 0L).as("s"),
        Resample.bucketStart(col("ts"), ruleNs, Resample.Right, 0L).as("sr"))
        .collect()
      rows.foreach { r =>
        val (t, s, sr) = (r.getLong(0), r.getLong(1), r.getLong(2))
        // closed-left: t ∈ [s, s + rule), s on the anchor grid
        assert(s <= t && t < s + ruleNs, s"left: ts=$t rule=$ruleNs start=$s")
        assert(math.floorMod(s, ruleNs) == 0)
        // closed-right: t ∈ (sr, sr + rule]
        assert(sr < t && t <= sr + ruleNs, s"right: ts=$t rule=$ruleNs start=$sr")
        assert(math.floorMod(sr, ruleNs) == 0)
      }
    }
  }

  test("property: groupByAgg matches a driver-side pandas-semantics oracle") {
    val rowGen = for {
      k <- Gen.chooseNum(0, 4)
      v <- Gen.frequency[Option[Double]](
        (8, Gen.chooseNum(-1000.0, 1000.0).map(Some(_))),
        (1, Gen.const(Some(Double.NaN))),
        (1, Gen.const(None)))
    } yield (k.toLong, v)
    val data = sample(rowGen, 500, 42L)
    val df = data.toDF("k", "v")

    val got = QueryBuilder()
      .groupByAgg(Seq("k"), Seq(
        ("s", "v", "sum"), ("m", "v", "mean"),
        ("lo", "v", "min"), ("hi", "v", "max"), ("n", "v", "count")))(df)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4)), r.getLong(5)))
      .toMap

    val expected = data.groupBy(_._1).map { case (k, rows) =>
      // pandas semantics: NaN and null are both missing
      val vs = rows.flatMap(_._2).filterNot(_.isNaN)
      k -> (
        vs.sum, // sum of empty -> 0.0
        if (vs.isEmpty) None else Some(vs.sum / vs.size),
        if (vs.isEmpty) None else Some(vs.min),
        if (vs.isEmpty) None else Some(vs.max),
        vs.size.toLong)
    }
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, (s, m, lo, hi, n)) =>
      val (es, em, elo, ehi, en) = expected(k)
      assert(math.abs(s - es) < 1e-9, s"sum k=$k")
      assert(m.map(_.asInstanceOf[Double]).zip(em).forall(p => math.abs(p._1 - p._2) < 1e-9)
        && m.isDefined == em.isDefined, s"mean k=$k")
      assert(lo.map(_.asInstanceOf[Double]) == elo && hi.map(_.asInstanceOf[Double]) == ehi,
        s"min/max k=$k")
      assert(n == en, s"count k=$k")
    }
  }

  test("property: merge strategies match a driver-side oracle on random frames") {
    val frameGen = Gen.listOf(for {
      k <- Gen.chooseNum(0L, 30L)
      v <- Gen.chooseNum(-100.0, 100.0)
    } yield (k, v)).map(_.distinctBy(_._1))
    val target = sample(frameGen, 1, 11L).head
    val source = sample(frameGen, 1, 12L).head
    val tDf = target.toDF("k", "v")
    val sDf = source.toDF("k", "v")
    val tm = target.toMap
    val sm = source.toMap

    for {
      matched <- Seq("update", "do_nothing")
      notMatched <- Seq("insert", "do_nothing")
    } {
      val got = graft.operators.MergeUpdate
        .merge(tDf, sDf, Seq("k"), matched, notMatched)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val updated = tm.map { case (k, v) =>
        k -> (if (matched == "update" && sm.contains(k)) sm(k) else v)
      }
      val inserted =
        if (notMatched == "insert") sm.view.filterKeys(!tm.contains(_)).toMap
        else Map.empty[Long, Double]
      assert(got == updated ++ inserted, s"matched=$matched notMatched=$notMatched")
    }
  }

  test("property: fingerprint is invariant to case/punctuation/extra spaces") {
    val wordGen = Gen.listOfN(6, Gen.alphaLowerStr.map(_.take(5)).suchThat(_.nonEmpty))
    val texts = sample(wordGen, 50, 7L).map(_.mkString(" "))
    val mangled = texts.map { t =>
      t.toUpperCase.replace(" ", "  !  ") // case, punctuation, double spaces
    }
    val df = texts.zip(mangled).toDF("a", "b")
    val diff = df.filter(
      graft.functions.Text.fingerprint(col("a")) =!=
        graft.functions.Text.fingerprint(col("b"))).count()
    assert(diff == 0)
  }

  test("property: random write/append/update/deleteRange sequences match a driver model") {
    // Model-based version-store check (the reference's hypothesis
    // version-chain style): a driver-side Map[ts -> v] replays each
    // operation's contract; after every op the stored symbol must read
    // back as exactly the model, and at the end as-of reads must match
    // the recorded per-version snapshots of the model.
    import graft.core.Library
    val rnd = new scala.util.Random(8138L)
    val lib = new Library(
      java.nio.file.Files.createTempDirectory("graft-model-").toString, spark)
    var model = Map.empty[Long, Long]
    val history = scala.collection.mutable.ArrayBuffer.empty[(Int, Map[Long, Long])]
    def toDf(m: Seq[(Long, Long)]) = m.toDF("ts2", "v")
    def randRows(lo: Long, hi: Long): Seq[(Long, Long)] =
      (lo until hi).filter(_ => rnd.nextDouble() < 0.7).map(k => k -> rnd.nextLong())

    // initial write
    val w0 = randRows(0, 120)
    history += ((lib.write("s", toDf(w0), Some("ts2"), targetRows = 40), w0.toMap))
    model = w0.toMap
    (1 to 18).foreach { _ =>
      val v = rnd.nextInt(3) match {
        case 0 => // append strictly after current max
          val mx = model.keys.max
          val rows = randRows(mx + 1, mx + 1 + rnd.nextInt(60))
          if (rows.isEmpty) -1
          else { model ++= rows; lib.append("s", toDf(rows), targetRows = 40) }
        case 1 => // update an explicit range: in-range stored rows die,
          // df rows inside the range land
          val span = model.keys.max + 10
          val lo = rnd.nextLong(span); val hi = lo + rnd.nextInt(50)
          val rows = randRows(lo, hi + 1)
          model = model.filterNot { case (k, _) => k >= lo && k <= hi } ++ rows
          lib.update("s", toDf(rows), targetRows = 40, dateRange = Some((lo, hi)))
        case _ => // deleteRange
          val span = math.max(model.keys.max, 1L)
          val lo = rnd.nextLong(span); val hi = lo + rnd.nextInt(40)
          model = model.filterNot { case (k, _) => k >= lo && k <= hi }
          lib.deleteRange("s", lo, hi, targetRows = 40)
      }
      if (v >= 0) {
        history += ((v, model))
        val got = lib.read("s").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == model, s"after version $v")
      }
    }
    // as-of reads replay the whole history
    rnd.shuffle(history.toSeq).take(6).foreach { case (v, m) =>
      val got = lib.read("s", Library.AsOf.Version(v)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == m, s"as-of version $v")
    }
  }

  test("property: splice finalize equals the sorted union for random disjoint deltas") {
    // The reference's hypothesis coverage for staged finalize
    // (python/tests/hypothesis/arcticdb/test_sort_merge.py): random base +
    // random count/size of disjoint pre-sorted staged deltas → append-mode
    // finalizeStaged must read back as the exact ordered union, flagged
    // sorted, regardless of how rows fall across delta and file boundaries.
    // Each draw runs over a long index and over zero-padded string keys
    // (string order = id order), the two index-key families.
    import graft.core.Library
    val keyings: Seq[(org.apache.spark.sql.Column, Long => Any)] = Seq(
      (col("id"), (i: Long) => i),
      (format_string("k%06d", col("id")), (i: Long) => f"k$i%06d"))
    val seeds = sample(Gen.chooseNum(1L, Long.MaxValue), 5, 20260813L)
    for (seed0 <- seeds; (key, expect) <- keyings) {
      val rnd = new scala.util.Random(seed0)
      val nDeltas = 1 + rnd.nextInt(3)
      // cumulative cuts: base end, then each delta's end
      val cuts = Seq.fill(nDeltas + 1)(1 + rnd.nextInt(600))
        .scanLeft(200 + rnd.nextInt(400))(_ + _)
      val lib = new Library(
        java.nio.file.Files.createTempDirectory("graft-propspec-").toString, spark)
      def part(lo: Int, hi: Int) =
        spark.range(lo, hi).select(key.as("ts2"), (col("id") * 3).as("v"))
      lib.write("s", part(0, cuts.head), Some("ts2"), targetRows = 128)
      cuts.sliding(2).foreach {
        case Seq(lo, hi) =>
          lib.stage("s", part(lo, hi).coalesce(1).sortWithinPartitions("ts2"))
        case _ =>
      }
      lib.finalizeStaged("s", mode = "append")
      val m = lib.resolveVersion("s")
      assert(m.sorted && m.rowCount == cuts.last.toLong, s"seed=$seed0 key=$key")
      val got = lib.read("s").orderBy("ts2").select("ts2").collect().map(_.get(0)).toSeq
      assert(got == (0L until cuts.last.toLong).map(expect), s"seed=$seed0 key=$key")
    }
  }

  test("property: mixed int64/uint64 comparisons follow the reference rules") {
    // Reference semantics (cpp/arcticdb/processing/signed_unsigned_comparison.hpp
    // + test_signed_unsigned_comparison.cpp): an msb-set uint64 is greater
    // than every int64, otherwise compare as signed — i.e. compare TRUE
    // mathematical values. The Decimal(20,0) carrier (Expr.Uint64) must
    // reproduce that exactly for all six operators in both argument
    // orders; the oracle is BigInt comparison.
    import graft.query.Expr
    import graft.query.Expr.{col => ec, BinOp}
    val u64Max = BigInt("18446744073709551615")
    val msb = BigInt(Long.MaxValue) + 1
    // Boundary cross-product subsumes every concrete case in the
    // reference's gtest table (uint64max/30/28/3 vs 28/30/-5/3 …).
    val uBound = Seq(BigInt(0), BigInt(1), BigInt(3), BigInt(28), BigInt(30),
      BigInt(Long.MaxValue), msb, u64Max - 1, u64Max)
    val sBound = Seq(Long.MinValue, -5L, -1L, 0L, 3L, 28L, 30L, Long.MaxValue)
    val uGen = Gen.frequency(
      2 -> Gen.oneOf(uBound),
      3 -> Gen.chooseNum(0L, Long.MaxValue).map(BigInt(_)),
      3 -> Gen.chooseNum(0L, Long.MaxValue).map(BigInt(_) + msb))
    val sGen = Gen.frequency(
      2 -> Gen.oneOf(sBound),
      5 -> Gen.chooseNum(Long.MinValue, Long.MaxValue))
    val pairs = (for (u <- uBound; s <- sBound) yield (u, s)) ++
      sample(Gen.zip(uGen, sGen), 300, 20260814L)
    val df = pairs.zipWithIndex
      .map { case ((u, s), i) => (i.toLong, new java.math.BigDecimal(u.bigInteger), s) }
      .toDF("i", "u", "s")
      .withColumn("u", col("u").cast(Expr.Uint64))
    val ops: Seq[(String, BinOp.Value, Int => Boolean)] = Seq(
      ("eq", BinOp.Eq, _ == 0), ("ne", BinOp.Ne, _ != 0),
      ("lt", BinOp.Lt, _ < 0), ("le", BinOp.Le, _ <= 0),
      ("gt", BinOp.Gt, _ > 0), ("ge", BinOp.Ge, _ >= 0))
    val cols = col("i") +: ops.flatMap { case (n, op, _) =>
      Seq(Expr.compile(Expr.Binary(op, ec("u"), ec("s")), df.schema).as(s"u_${n}_s"),
        Expr.compile(Expr.Binary(op, ec("s"), ec("u")), df.schema).as(s"s_${n}_u"))
    }
    val got = df.select(cols: _*).orderBy("i").collect()
    pairs.zipWithIndex.foreach { case ((u, s), i) =>
      val row = got(i)
      val cmp = u.compare(BigInt(s))
      ops.zipWithIndex.foreach { case ((n, _, ref), j) =>
        assert(row.getBoolean(1 + 2 * j) == ref(cmp), s"u=$u $n s=$s")
        assert(row.getBoolean(2 + 2 * j) == ref(-cmp), s"s=$s $n u=$u")
      }
    }
    // uint64 stays out of the arithmetic lattice — loud, not silently lossy
    intercept[IllegalArgumentException] {
      Expr.arithmeticResultType(BinOp.Add, Expr.Uint64,
        org.apache.spark.sql.types.LongType)
    }
  }

  test("property: random then/prepend compositions equal the inline clause chain") {
    // metamorphic: any split of a clause chain into (prefix, suffix)
    // composed via then/prepend must equal applying the chain inline —
    // and the prefix-filter bookkeeping must keep exactly the leading
    // all-filter run of the composed pipeline.
    import graft.query.Expr.{col => ec, lit => el}
    val df = spark.range(200).selectExpr("id as k", "cast(id % 7 as double) as v",
      "cast(id % 13 as long) as g")
    sealed trait C
    case object F1 extends C; case object F2 extends C
    case object P extends C; case object G extends C
    def toQb(cs: Seq[C]): QueryBuilder = cs.foldLeft(QueryBuilder()) {
      case (qb, F1) => qb.filter(ec("k") > el(20L))
      case (qb, F2) => qb.filter(ec("v") < el(5.0))
      case (qb, P) => qb.project("w", ec("v") + el(1.0))
      case (qb, G) => qb.groupByAgg(Seq("g"), Seq(("s", "v", "sum")))
    }
    val chains = sample(
      Gen.chooseNum(0, 4).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf[C](F1, F2, P, G))).map(_.toList),
      40, seed = 31L)
      // at most one barrier, always terminal (post-agg clauses would
      // reference pre-agg columns the barrier drops)
      .filter(cs => cs.count(_ == G) <= 1 &&
        (cs.indexOf(G) < 0 || cs.indexOf(G) == cs.length - 1))
    chains.foreach { cs =>
      val inline = toQb(cs)
      val want = inline(df).collect().map(_.toString).sorted.toSeq
      (0 to cs.length).foreach { cut =>
        val (a, b) = cs.splitAt(cut)
        val composed = toQb(a).`then`(toQb(b))
        val viaPrepend = toQb(b).prepend(toQb(a))
        assert(composed(df).collect().map(_.toString).sorted.toSeq == want, s"$cs @ $cut")
        assert(viaPrepend(df).collect().map(_.toString).sorted.toSeq == want, s"$cs @ $cut")
        val leadingFilters = cs.takeWhile(c => c == F1 || c == F2).length
        assert(composed.prefixFilters.length == leadingFilters, s"$cs @ $cut")
      }
    }
  }

  test("property: MarkerCounts equals the split formulation on random marker soup") {
    // random texts over an alphabet that DELIBERATELY collides with the
    // markers (adjacent repeats, markers at both edges, empty tokens are
    // impossible by construction but 1-char gaps are not)
    import graft.functions.Text
    val markers = Text.LangMarkers.flatMap(_._2)
    val word = Gen.oneOf(markers ++ Seq("cat", "x", "lala", "thee", "a", "the"))
    val textGen = Gen.chooseNum(0, 24)
      .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val texts = sample(textGen, 300, seed = 20251114L)
    val df = texts.toDF("text")
    val viaKernel = df.select(
      graft.plans.MarkerCounts(col("text"), markers).as("mc"))
      .collect().map(_.getSeq[Int](0).toSeq)
    val viaSplit = df.select(
      array(markers.map(m => Text.wordCount(col("text"), m)): _*))
      .collect().map(_.getSeq[Int](0).toSeq)
    viaKernel.zip(viaSplit).zipWithIndex.foreach { case ((k, s), i) =>
      assert(k == s, s"text '${texts(i)}'")
    }
  }

  test("property: SeqRedact equals the chained regexp_replace on planted PII") {
    import graft.functions.Pii
    val piiBit = Gen.oneOf(
      "bob@x.com", "a.b-c@mail.example.org", "555-123-4567", "10.0.0.1",
      "999.1.2.3", "user@10.0.0.7", "<EMAIL>", "<IP>", "not-a-phone-5551234567",
      "almost@nodot", "1.2.3", "x@y.zz")
    val word = Gen.oneOf(Seq("lorem", "ipsum", "text", "ok") )
    val tok = Gen.frequency(2 -> piiBit, 3 -> word)
    val textGen = Gen.chooseNum(0, 12)
      .flatMap(n => Gen.listOfN(n, tok).map(_.mkString(" ")))
    val texts = sample(textGen, 300, seed = 77L)
    val df = texts.toDF("text")
    val k = Pii.piiKernel(col("text"))
    val got = df.select(k.getField("n_emails"), k.getField("n_phones"),
      k.getField("n_ips"), k.getField("clean")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3)))
    // oracle: the chained Column formulation with tag-count DIFF counts
    def tagCount(c: org.apache.spark.sql.Column, tag: String) =
      size(split(c, java.util.regex.Pattern.quote(tag))) - 1
    val t0 = col("text")
    val t1 = regexp_replace(t0, lit(Pii.EmailRe), lit(Pii.EmailTag))
    val t2 = regexp_replace(t1, lit(Pii.PhoneRe), lit(Pii.PhoneTag))
    val t3 = regexp_replace(t2, lit(Pii.Ipv4Re), lit(Pii.IpTag))
    val exp = df.select(
      (tagCount(t1, Pii.EmailTag) - tagCount(t0, Pii.EmailTag)).as("e"),
      (tagCount(t2, Pii.PhoneTag) - tagCount(t1, Pii.PhoneTag)).as("p"),
      (tagCount(t3, Pii.IpTag) - tagCount(t2, Pii.IpTag)).as("i"),
      t3.as("c")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3)))
    got.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"text '${texts(i)}'")
    }
  }

  test("property: WordPiece greedy segmentation always reconstructs the word") {
    // For ANY vocab and word, concatenating segmentWord(w) yields w —
    // greedy advance covers every codepoint or falls back to the whole
    // word; either way the pieces partition it. Alphabets include
    // supplementary-plane codepoints to exercise surrogate handling.
    import graft.plans.WordPieceModel
    val alphabet = Seq("a", "b", "c", "😀", "𝐀", "ß")
    val genPiece = Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alphabet)).map(_.mkString))
    val genVocab = Gen.nonEmptyListOf(genPiece).map(_.distinct)
    val genWord = Gen.choose(0, 20).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alphabet)).map(_.mkString))
    val params = Gen.Parameters.default
    (0 until 200).foreach { i =>
      val seed = Seed(90017L + i)
      val vocab = genVocab(params, seed).get
      val word = genWord(params, seed.next).get
      val m = new WordPieceModel(vocab.toArray, maxWordLen = 16)
      if (word.nonEmpty) {
        import scala.jdk.CollectionConverters._
        val seg = m.segmentWord(word).asScala
        assert(seg.mkString == word, s"vocab=$vocab word=$word seg=$seg")
        // multi-piece segmentations contain only vocab members (a
        // single piece may be the whole-word fallback instead)
        if (seg.size > 1) assert(seg.forall(vocab.contains), s"$seg not in $vocab")
      }
    }
  }
}
