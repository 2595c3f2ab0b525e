package storebench

import scala.collection.mutable

import graft.core.{Graft, Library}
import graft.core.Library.AsOf
import graft.operators.AsOfJoin
import graft.query.{Expr, QueryBuilder}

/** `history`: a trades symbol with a long version history, read back
  * through fresh library handles (cold manifest cache) in a fixed
  * round-robin of the read shapes users issue. The commit path is idle.
  */
final class History(days: Int, appends: Int, rowsPerDay: Int, quotesPerDay: Int) extends Workload {
  import History._

  /** The base write holds the first days; one append per later day. */
  private val baseDays = days - appends
  private val updateDays = Seq(2, baseDays + 5)
  /** Two data files per day, so the symbol passes 64 files. */
  private val targetRows = rowsPerDay / 2L

  val kinds: Seq[String] = Seq(
    "read_full", "read_range", "read_columns", "read_asof", "query_groupby", "query_resample",
    "asof_join")

  private var ctx: Ctx = _
  private var graft: Graft = _
  private var seed = 0L
  /** Per day: the salt of the rows it holds at the latest version. */
  private val salt = mutable.Map.empty[Int, Int]
  private var asofVersion = 0
  private var asofDays = 0
  private var versions = 0
  private var next = 0
  private var expected: Map[String, Digest] = Map.empty
  private val dayDigest = mutable.Map.empty[(Int, Int), Digest]
  private val joinDigest = mutable.Map.empty[Int, Digest]
  private var storage: Map[String, Double] = Map.empty

  private def tradeRows(day: Int, s: Int) = Gen.trades(seed, day, rowsPerDay, s)
  private def tradeFrame(ds: Seq[Int], s: Int = 0) =
    ctx.frame(ds.flatMap(d => tradeRows(d, s).map(_.row)), Gen.TradeSchema)

  def setup(c: Ctx): Unit = {
    ctx = c
    seed = c.seed
    salt.clear(); dayDigest.clear(); joinDigest.clear()
    val (g, lib) = c.newLibrary(Lib)
    graft = g
    c.commit(lib, Trades, "write", tradeFrame(0 until baseDays))(lib.write(Trades, _, Some("ts"), targetRows))
    (0 until baseDays).foreach(salt(_) = 0)
    var pending = updateDays.toList
    for (d <- baseDays until days) {
      val v = c.commit(lib, Trades, "append", tradeFrame(Seq(d)))(lib.append(Trades, _, targetRows))
      salt(d) = 0
      if (d == baseDays + 1) { asofVersion = v; asofDays = d + 1 }
      // updates start after the as-of version, so that version holds base rows only
      while (d > baseDays + 1 && pending.nonEmpty && pending.head < d - 1) {
        val u = pending.head
        pending = pending.tail
        c.commit(lib, Trades, "update", tradeFrame(Seq(u), 1))(
          lib.update(Trades, _, dateRange = Some((Gen.dayStart(u), Gen.dayEnd(u)))))
        salt(u) = 1
      }
    }
    versions = lib.listVersions(Trades).size
    val quotes = (0 until days).flatMap(d => Gen.quotes(seed, d, quotesPerDay).map(_.row))
    c.commit(lib, Quotes, "write", ctx.frame(quotes, Gen.QuoteSchema))(
      lib.write(Quotes, _, Some("ts"), quotesPerDay.toLong * days))
    lib.snapshot("setup")
    buildModel()
  }

  private def digestOf(day: Int, s: Int): Digest =
    dayDigest.getOrElseUpdate((day, s), Model.trades(tradeRows(day, s)))

  private def latestRows: Iterator[Gen.Trade] =
    (0 until days).iterator.flatMap(d => tradeRows(d, salt(d)))

  private def buildModel(): Unit = {
    val full = (0 until days).map(d => digestOf(d, salt(d))).reduce(_ + _)
    val early = (0 until asofDays).map(d => digestOf(d, 0)).reduce(_ + _)
    // filter(ts >= lo) then groupBy sym: sum/count of size, max price
    val lo = Gen.dayStart(days - GroupByDays)
    val bySym = mutable.Map.empty[String, (Long, Long, Long)]
    // 1h resample: sum/count of size, min/max price per bucket
    val byHour = mutable.Map.empty[Long, (Long, Long, Long, Long)]
    for (t <- latestRows) {
      if (t.ts >= lo) {
        val (vol, n, hi) = bySym.getOrElse(t.sym, (0L, 0L, Long.MinValue))
        bySym(t.sym) = (vol + t.size, n + 1, math.max(hi, t.cents))
      }
      val b = t.ts - java.lang.Math.floorMod(t.ts, Gen.HourNs)
      val (vol, n, l, h) = byHour.getOrElse(b, (0L, 0L, Long.MaxValue, Long.MinValue))
      byHour(b) = (vol + t.size, n + 1, math.min(l, t.cents), math.max(h, t.cents))
    }
    val g = new Acc(Seq("sym", "vol", "n", "hi"))
    for ((s, (vol, n, hi)) <- bySym) g.addAll(Digest.ofString(s), Digest.ofLong(vol), Digest.ofLong(n), hi)
    val r = new Acc(Seq("ts", "vol", "n", "lo", "hi"))
    for ((b, (vol, n, l, h)) <- byHour) r.addAll(Digest.ofLong(b), Digest.ofLong(vol), Digest.ofLong(n), l, h)
    expected = Map(
      "read_full" -> full,
      "read_columns" -> full.select(Columns),
      "read_asof" -> early,
      "query_groupby" -> g.digest,
      "query_resample" -> r.digest)
  }

  /** Trades of days [d, d+JoinDays) as-of joined to the quotes of the same
    * days: each trade takes the bid of the latest same-symbol quote at or
    * before it, null when there is none.
    */
  private def joinModel(d: Int): Digest = joinDigest.getOrElseUpdate(d, {
    val ds = d until d + JoinDays
    val qs = ds.flatMap(x => Gen.quotes(seed, x, quotesPerDay)).groupBy(_.sym)
      .map { case (s, q) => s -> q.sortBy(_.ts).toArray }
    val a = new Acc(Model.TradeCols :+ "right_bid")
    for (x <- ds; t <- tradeRows(x, salt(x))) {
      val q = qs.getOrElse(t.sym, Array.empty[Gen.Quote])
      // last index with q.ts <= t.ts
      var lo = 0; var hi = q.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (q(m).ts <= t.ts) lo = m + 1 else hi = m }
      a.add(Model.tradeTerms(t).map(Some(_)) :+ (if (lo == 0) None else Some(q(lo - 1).cents)): _*)
    }
    a.digest
  })

  def step(): Unit = {
    val k = next
    next += 1
    val kind = kinds(k % kinds.size)
    val round = k / kinds.size
    def lib(p: Probe): Library = p.layer("core.build")(graft.getLibrary(Lib))
    val r = ctx.runner
    val op = kind match {
      case "read_full" =>
        r.read(kind, expected(kind)) { p => val l = lib(p); p.read(l)(l.read(Trades)) }
      case "read_range" =>
        val d = (round * 7) % days
        r.read(kind, digestOf(d, salt(d))) { p =>
          val l = lib(p); p.read(l)(l.read(Trades, dateRange = Some((Gen.dayStart(d), Gen.dayEnd(d)))))
        }
      case "read_columns" =>
        r.read(kind, expected(kind)) { p => val l = lib(p); p.read(l)(l.read(Trades, columns = Some(Columns))) }
      case "read_asof" =>
        r.read(kind, expected(kind)) { p => val l = lib(p); p.read(l)(l.read(Trades, AsOf.Version(asofVersion))) }
      case "query_groupby" =>
        val q = QueryBuilder()
          .filter(Expr.col("ts") >= Expr.lit(Gen.dayStart(days - GroupByDays)))
          .groupByAgg(Seq("sym"), Seq(("vol", "size", "sum"), ("n", "size", "count"), ("hi", "price", "max")))
        r.read(kind, expected(kind)) { p => val l = lib(p); p.read(l)(l.readQuery(Trades, q)) }
      case "query_resample" =>
        val q = QueryBuilder().resample("ts", "1h",
          Seq(("vol", "size", "sum"), ("n", "size", "count"), ("lo", "price", "min"), ("hi", "price", "max")))
        r.read(kind, expected(kind)) { p => val l = lib(p); p.read(l)(l.readQuery(Trades, q)) }
      case "asof_join" =>
        val d = (round * 5) % (days - JoinDays + 1)
        val range = Some((Gen.dayStart(d), Gen.dayEnd(d + JoinDays - 1)))
        r.read(kind, joinModel(d)) { p =>
          val l = lib(p)
          val left = p.read(l)(l.read(Trades, dateRange = range))
          val right = p.read(l)(l.read(Quotes, dateRange = range))
          p.layer("operators.build")(AsOfJoin.asofJoin(left, right, "ts", Seq("sym"), Seq("bid")))
        }
    }
    if (ctx.traced) {
      // resolveVersion alone, on another fresh handle, outside the op's time
      val asOf = if (kind == "read_asof") AsOf.Version(asofVersion) else AsOf.Latest
      val t0 = System.nanoTime()
      graft.getLibrary(Lib).resolveVersion(Trades, asOf)
      op.metrics("core.resolve_ms") = (System.nanoTime() - t0) / 1e6
      if (storage.isEmpty) storage = ctx.storage(graft.getLibrary(Lib), Trades)
      op.metrics ++= storage
    }
  }

  def sizes(): Map[String, Any] = {
    val lib = graft.getLibrary(Lib)
    Map(
      "trades_rows" -> lib.resolveVersion(Trades).rowCount,
      "trades_versions" -> versions,
      "trades_files" -> lib.resolveVersion(Trades).files.size,
      "trades_bytes" -> ctx.du(new org.apache.hadoop.fs.Path(lib.root, Trades).toString)._1,
      "quotes_rows" -> lib.resolveVersion(Quotes).rowCount,
      "library_bytes" -> ctx.du(lib.root)._1)
  }
}

object History {
  val Lib = "bench"
  val Trades = "trades"
  val Quotes = "quotes"
  val Columns = Seq("ts", "price")
  val GroupByDays = 12
  val JoinDays = 2
}
