package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd single-pass text kernels.
  *
  * These replace multi-operator Column pipelines whose hot loop would
  * otherwise run per-token inside exchanges (the posexplode→window→
  * dropDuplicates shingle chain) or as interpreted higher-order functions
  * (`aggregate`/`filter` array lambdas never enter whole-stage codegen —
  * the repo's measured ~20× penalty). Each expression normalizes,
  * tokenizes and folds in ONE narrow pass per document, so a 100 TB
  * corpus scan needs no shuffle at all until the first keyed aggregate.
  *
  * Semantics are pinned to graft.functions.Text.normalizeText
  * (lower → strip non-[a-z0-9 ] → collapse runs of spaces → trim) and to
  * pandas-style `sliding(n)` shingling, which DedupGroundTruthSpec
  * verifies against driver-side recomputation.
  */
object TextKernels {

  /** normalizeText + split(" "): non-empty tokens of the normalized text;
    * an entirely-empty normalization yields the single empty token that
    * `split` produces (so n=1 shingling of "" matches the Column path).
    */
  private[plans] def normTokens(text: UTF8String): Array[String] = {
    val s = text.toString.toLowerCase(java.util.Locale.ROOT)
    val out = new java.util.ArrayList[String](16)
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      else if (c == ' ' && sb.length > 0) { out.add(sb.toString); sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) out.add(sb.toString)
    if (out.isEmpty) Array("") else out.toArray(new Array[String](out.size))
  }

  /** Every sliding char n-gram of the RAW text (see [[CharGrams]]).
    * CODEPOINT-based (java codePoints, not UTF-16 units), so gram
    * boundaries agree with SQL substr/length semantics on both engines
    * even past the BMP.
    */
  def charGrams(text: UTF8String, n: Int): ArrayData = {
    val cps = text.toString.codePoints().toArray
    if (cps.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](cps.length - n + 1)
    var i = 0
    while (i + n <= cps.length) {
      out(i) = UTF8String.fromString(new String(cps, i, n))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct word-n-gram shingles of `text`, first-occurrence order. */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val toks = normTokens(text)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    val sb = new java.lang.StringBuilder(n * 8)
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(arr)
  }

  /** One document's MinHash signature over its [[shingles]] (see
    * plans.MinhashSignature): the row (set?, h0..h(k-1)), or null when
    * the document has no shingle. `set` (when `withSet`) is the sorted,
    * deduplicated `xxhash64(s)` of every shingle; hi is the min over
    * shingles of `hash` i, for the k = `hash.k` hashes. Shingles are
    * ASCII by construction (normTokens keeps [a-z0-9]), so each is a
    * slice of the space-joined token bytes and is hashed in place. A
    * shingle repeated within the document is hashed once per occurrence:
    * min and the set's dedup absorb it.
    */
  def minhashSignature(
      text: UTF8String,
      n: Int,
      hash: SeededShingleHash,
      withSet: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    val numHashes = hash.k
    val toks = normTokens(text)
    if (toks.length < n) return null
    val starts = new Array[Int](toks.length + 1)
    val sb = new java.lang.StringBuilder(toks.length * 8)
    var t = 0
    while (t < toks.length) {
      if (t > 0) sb.append(' ')
      starts(t) = sb.length
      sb.append(toks(t))
      t += 1
    }
    starts(toks.length) = sb.length + 1 // token t ends at starts(t + 1) - 1
    val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val m = toks.length - n + 1
    val set = if (withSet) new Array[Long](m) else null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < m) {
      val from = starts(i)
      val len = starts(i + n) - 1 - from
      if (withSet) set(i) = XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from, len, 42L)
      var j = 0
      while (j < numHashes) {
        val h = hash(j, bytes, from, len)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    val out = new Array[Any]((if (withSet) 1 else 0) + numHashes)
    if (withSet) {
      java.util.Arrays.sort(set)
      var d = 1
      i = 1
      while (i < m) {
        if (set(i) != set(d - 1)) { set(d) = set(i); d += 1 }
        i += 1
      }
      out(0) = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(java.util.Arrays.copyOf(set, d))
    }
    var j = 0
    while (j < numHashes) { out(out.length - numHashes + j) = mins(j); j += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  /** Dedup.h60 of an md5 digest: its first 15 hex digits as a
    * non-negative long, i.e. the top 60 bits of its first 8 bytes.
    */
  private[plans] def h60(md5: Array[Byte]): Long =
    java.nio.ByteBuffer.wrap(md5).getLong >>> 4

  /** NFC canonical composition (see plans.NfcNormalize). Fast path:
    * java.text.Normalizer.isNormalized is O(n) with no allocation, and
    * real corpora are overwhelmingly already-NFC.
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Rolling polynomial hash (base 31 mod 2^31-1) over the normalized
    * text's characters — Rabin-Karp document fingerprint. NOT bit-equal to
    * the `aggregate(split(norm, ''), ...)` fold it replaced: `split` with
    * its default -1 limit emitted a trailing empty element (ascii 0), so
    * the old fold ran one extra `acc*31 % M` step per non-empty doc. The
    * clean definition here is intentional; TextKernelsSpec pins concrete
    * hash values so any future change to the fingerprint is a loud test
    * failure, not a silent migration. Empty/normalized-to-empty text → 0.
    */
  def rollingHash(text: UTF8String): Long = {
    val s = text.toString.toLowerCase(java.util.Locale.ROOT)
    // replay normalize inline: keep [a-z0-9], collapse spaces, trim
    var acc = 0L
    var pendingSpace = false
    var started = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && started) acc = (acc * 31L + ' '.toLong) % 2147483647L
        acc = (acc * 31L + c.toLong) % 2147483647L
        pendingSpace = false
        started = true
      } else if (c == ' ') pendingSpace = true
      i += 1
    }
    acc
  }

  /** Single-pass normalize: lower → keep [a-z0-9 ] → collapse space runs →
    * trim. Bit-equal on this corpus to the Column chain
    * `trim(regexp_replace(regexp_replace(lower(text),'[^a-z0-9 ]',''),' +',' '))`
    * it replaces (two java.util.regex passes over every document — the
    * dominant cost of q27/q51 at sf1), and pinned to it by the sf0.01
    * DuckDB gate. Lowercasing delegates to UTF8String.toLowerCase — the
    * exact routine Catalyst's Lower uses — so exotic case mappings can't
    * diverge from the regex formulation.
    */
  def normalize(text: UTF8String): UTF8String = {
    val s = text.toLowerCase.toString
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        sb.append(c)
        pendingSpace = false
      } else if (c == ' ') pendingSpace = true
      // any other char is deleted and does NOT introduce a space
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  val DefaultStops: StopSet = new StopSet(graft.functions.Text.Stopwords)

  /** Non-overlapping occurrence count of each padded needle `" w "` in
    * `" text "` — Text.wordCount's split-count semantics, one padded
    * string build + one indexOf scan per needle (no regex, no splits).
    */
  def markerCounts(text: UTF8String, needles: Array[String]): ArrayData = {
    val padded = " " + text.toString + " "
    val out = new Array[Any](needles.length)
    var i = 0
    while (i < needles.length) {
      val needle = needles(i)
      var c = 0
      var from = padded.indexOf(needle)
      while (from >= 0) {
        c += 1
        from = padded.indexOf(needle, from + needle.length)
      }
      out(i) = c
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One scan over the RAW text → (n_tokens, n_stop, n_chars):
    *  - n_tokens: split-on-single-space token count = #(' ') + 1, the exact
    *    semantics of `size(split(text, " "))` (empty tokens included);
    *  - n_stop: maximal non-space tokens equal to a stopword — the exact
    *    match set of `regexp_count(' '||text||' ', '(?<= )(?:stop|…)(?= )')`,
    *    whose lookaround alternation was the single hottest expression in
    *    the q35 quality pipeline (~1.8s of java.util.regex at sf1);
    *  - n_chars: numChars, as Catalyst's Length(string).
    * Comparison is case-sensitive on the raw text, like the regex it
    * replaces.
    */
  def textStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow =
    textStats(text, DefaultStops)

  def textStats(
      text: UTF8String,
      stops: StopSet): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val n = s.length
    var spaces = 0
    var stop = 0
    var tokStart = 0
    var i = 0
    def checkToken(start: Int, end: Int): Unit =
      if (end - start >= stops.minLen && end - start <= stops.maxLen &&
        stops.set.contains(s.substring(start, end))) stop += 1
    while (i < n) {
      if (s.charAt(i) == ' ') {
        spaces += 1
        checkToken(tokStart, i)
        tokStart = i + 1
      }
      i += 1
    }
    checkToken(tokStart, n)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](spaces + 1, stop, text.numChars()))
  }

  /** Single-pass bag-of-tokens statistics for plans.TokenEntropy:
    * (n_tokens, n_types, Σ round((c/n)·ln(n/c)·1e6)). The entropy term
    * quantizes per DISTINCT token before the sum (integer addition is
    * order-free, so hash-map iteration order cannot matter), with the
    * identical double-arithmetic shape the relational formulation and
    * the DuckDB oracle compute.
    */
  def tokenEntropy(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val counts = new java.util.HashMap[String, Int](32)
    var n = 0L
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        counts.merge(s.substring(start, i), 1, Integer.sum _)
        n += 1
        start = i + 1
      }
      i += 1
    }
    var hf = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().toLong
      val term = (c.toDouble / n.toDouble) * math.log(n.toDouble / c.toDouble) * 1e6
      hf += (if (term >= 0) Math.round(term) else -Math.round(-term))
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, counts.size().toLong, hf))
  }

  /** One codepoint walk → per-script character counts + the dominant
    * script (see plans.ScriptProfile for the range table and the
    * tie rule). Counts are by CODEPOINT (surrogate pairs step as one),
    * matching an engine that splits UTF-8 text into codepoints.
    */
  def scriptProfile(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    var latin, digit, greek, cyr, arabic, hangul, cjk, space, other = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
        (cp >= 0xC0 && cp <= 0x24F)) latin += 1
      else if (cp >= '0' && cp <= '9') digit += 1
      else if (cp >= 0x370 && cp <= 0x3FF) greek += 1
      else if (cp >= 0x400 && cp <= 0x4FF) cyr += 1
      else if (cp >= 0x600 && cp <= 0x6FF) arabic += 1
      else if (cp >= 0xAC00 && cp <= 0xD7A3) hangul += 1
      else if ((cp >= 0x4E00 && cp <= 0x9FFF) ||
        (cp >= 0x3040 && cp <= 0x30FF)) cjk += 1
      else if (cp == ' ' || cp == '\t' || cp == '\n' || cp == '\r' ||
        cp == '\f') space += 1
      else other += 1
    }
    // Alphabetically-first script name achieving the max count — the
    // exact semantics of the oracle's >=-greatest CASE ladder.
    val m = math.max(latin, math.max(greek, math.max(cyr,
      math.max(arabic, math.max(hangul, cjk)))))
    val dominant =
      if (m == 0) "none"
      else if (arabic == m) "arabic"
      else if (cjk == m) "cjk"
      else if (cyr == m) "cyrillic"
      else if (greek == m) "greek"
      else if (hangul == m) "hangul"
      else "latin"
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](latin, digit, greek, cyr, arabic, hangul, cjk, space,
        other, UTF8String.fromString(dominant)))
  }

  /** Best query-term window of one document (see plans.BestSnippet):
    * tokens under split-on-single-space semantics (empty tokens are
    * positions, like exciseSpans), effective window w = min(window, n),
    * hits(s) = matching positions in [s, s+w-1], best start = max hits
    * with ties to the SMALLEST start — one rolling-count pass, snippet
    * rebuilt as the original substring (single spaces preserved).
    */
  def snippetWindow(
      text: UTF8String,
      terms: StopSet,
      window: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val tokStarts = new java.util.ArrayList[Integer](16)
    val tokEnds = new java.util.ArrayList[Integer](16)
    var tokStart = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        tokStarts.add(tokStart); tokEnds.add(i); tokStart = i + 1
      }
      i += 1
    }
    val n = tokStarts.size
    val w = math.min(window, n)
    val m = new Array[Boolean](n)
    var p = 0
    while (p < n) {
      m(p) = terms.set.contains(
        s.substring(tokStarts.get(p), tokEnds.get(p)))
      p += 1
    }
    var cur = 0
    var j = 0
    while (j < w) { if (m(j)) cur += 1; j += 1 }
    var best = cur
    var bestStart = 0
    var st = 1
    while (st + w - 1 < n) {
      if (m(st - 1)) cur -= 1
      if (m(st + w - 1)) cur += 1
      if (cur > best) { best = cur; bestStart = st }
      st += 1
    }
    val snippet =
      s.substring(tokStarts.get(bestStart), tokEnds.get(bestStart + w - 1))
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any]((bestStart + 1).toLong, best.toLong,
        UTF8String.fromString(snippet)))
  }

  /** Map-side span excision for exact-substring dedup
    * (Dedup.dropRepeatedSpans): drop every token of `text` whose
    * 1-based split-on-" " position lands inside any interval
    * [s, s+spanWords-1] for s in the SORTED-ascending `starts` array,
    * and rejoin survivors with " ". One merge-sweep over the string —
    * no token array materialized, O(len + |starts|): the coveredUntil
    * high-water mark folds overlapping spans as the start pointer
    * advances. Empty tokens (consecutive spaces) are positions too,
    * exactly like `split(text, " ", -1)`; a fully-covered doc returns
    * "". This kernel replaces what was a corpus-sized posexplode →
    * (doc,pos) anti-join → collect_list reassembly — two token-level
    * exchanges — with a per-affected-doc array join + this scan.
    */
  def exciseSpans(text: UTF8String, starts: ArrayData, spanWords: Int): UTF8String = {
    val s = text.toString
    val k = starts.numElements()
    val sb = new java.lang.StringBuilder(s.length)
    var j = 0               // next unconsumed start
    var coveredUntil = 0L   // highest covered position so far
    var pos = 1L            // 1-based token position
    var tokStart = 0
    var kept = false
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        while (j < k && starts.getLong(j) <= pos) {
          val e = starts.getLong(j) + spanWords - 1
          if (e > coveredUntil) coveredUntil = e
          j += 1
        }
        if (pos > coveredUntil) {
          if (kept) sb.append(' ')
          sb.append(s, tokStart, i)
          kept = true
        }
        pos += 1
        tokStart = i + 1
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Sliding `spanWords`-token gram hashes of `text` under
    * split-on-single-space tokenization — the map-side key stream of
    * Dedup.dropRepeatedSpans, ONE pass over the raw bytes.
    *
    * The load-bearing identity: `split(text, " ", -1)` preserves empty
    * tokens, so `concat_ws(" ", slice(tokens, j, k))` is exactly the BYTE
    * SLICE of the original text from token j's first byte to token j+k-1's
    * last byte (single-space separators round-trip, runs of spaces become
    * interior empty tokens that rejoin to the same run). Hashing those
    * windows directly replaces the Column formulation's per-gram string
    * build (concat_ws+slice allocations) and, in portable mode, the
    * hex-string md5 → conv(substring) chain — the measured dominant CPU of
    * q112 at sf5 (SURVEY.md §15, ScaleProbe r12). Bit-equal outputs:
    * portable = first 15 md5 hex digits as a long (extracted from the raw
    * digest bytes: 7 full bytes + the high nibble of byte 7), production =
    * XXH64(bytes, seed 42) — precisely Spark's xxhash64. A doc with fewer
    * than spanWords tokens yields an empty array (0x20 never occurs inside
    * a multi-byte UTF-8 sequence, so byte-level space scanning is
    * codepoint-safe).
    */
  def gramHashes(text: UTF8String, spanWords: Int, portable: Boolean): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    // token start offsets under split-on-" ": 0 and every byte after a space
    var tokens = 1
    var i = 0
    while (i < n) { if (bytes(i) == ' '.toByte) tokens += 1; i += 1 }
    if (tokens < spanWords) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](tokens + 1)
    var t = 1
    i = 0
    while (i < n) {
      if (bytes(i) == ' '.toByte) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(tokens) = n + 1 // sentinel: end_i = starts(i+1) - 1
    val grams = tokens - spanWords + 1
    val out = new Array[Any](grams)
    val md = if (portable) java.security.MessageDigest.getInstance("MD5") else null
    var j = 0
    while (j < grams) {
      val from = starts(j)
      val until = starts(j + spanWords) - 1 // last byte of token j+spanWords-1
      if (portable) {
        md.update(bytes, from, until - from)
        out(j) = h60(md.digest())
      } else {
        out(j) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
          until - from, 42L)
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Greedy left-to-right non-overlapping application of one BPE merge
    * (l, r) → l+r over a token array (see plans.ApplyMerge).
    */
  def applyMerge(seg: ArrayData, l: String, r: String): ArrayData = {
    val n = seg.numElements()
    if (n < 2) return seg
    val out = new java.util.ArrayList[Any](n)
    var i = 0
    while (i < n) {
      val cur = seg.getUTF8String(i)
      if (i + 1 < n && cur.toString == l && seg.getUTF8String(i + 1).toString == r) {
        out.add(UTF8String.fromString(l + r))
        i += 2
      } else {
        out.add(cur)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** One greedy left-to-right pass applying EVERY pair of a unit-disjoint
    * [[MergeBatch]] — per pair exactly [[applyMerge]]'s semantics (see
    * MergeBatch scaladoc for why disjointness makes the combined scan
    * equivalent to any sequential per-pair fold).
    */
  def applyMergeBatch(seg: ArrayData, batch: MergeBatch): ArrayData = {
    val n = seg.numElements()
    if (n < 2) return seg
    val out = new java.util.ArrayList[Any](n)
    var i = 0
    while (i < n) {
      val cur = seg.getUTF8String(i)
      val merged =
        if (i + 1 < n) batch.product(cur, seg.getUTF8String(i + 1)) else null
      if (merged != null) {
        out.add(merged)
        i += 2
      } else {
        out.add(cur)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/** `normalize_text(text)`: single-pass codegen twin of
  * Text.normalizeText's regex chain (see TextKernels.normalize).
  */
final case class NormalizeText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"normalize_text expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TextKernels.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.normalize($c);")

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)

  override def prettyName: String = "normalize_text"
}

object NormalizeText {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column): Column =
    CatalystBridge.column(NormalizeText(CatalystBridge.expression(text)))
}

/** `text_stats(text)`: struct<n_tokens int, n_stop int, n_chars int> in one
  * scan (see TextKernels.textStats). Downstream ratio/score arithmetic
  * references this struct several times; identical deterministic subtrees
  * are evaluated once by codegen subexpression elimination, so the text is
  * scanned once per row however many stats columns are derived.
  */
final case class TextStats(
    child: Expression,
    stopwords: Seq[String] = graft.functions.Text.Stopwords)
  extends UnaryExpression {

  @transient private lazy val stops = new StopSet(stopwords)

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"text_stats expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TextKernels.textStats(input.asInstanceOf[UTF8String], stops)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stopsRef = ctx.addReferenceObj("stops", stops,
      classOf[StopSet].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.textStats($c, $stopsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)

  override def prettyName: String = "text_stats"
}

object TextStats {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column): Column =
    CatalystBridge.column(TextStats(CatalystBridge.expression(text)))

  def apply(text: Column, stopwords: Seq[String]): Column =
    CatalystBridge.column(TextStats(CatalystBridge.expression(text), stopwords))
}

/** `distinct_shingles(text, n)`: array of the distinct word-n-gram
  * shingles of the normalized text (reference shingle semantics used by
  * all dedup signatures; see Dedup.shinglePostings).
  */
final case class DistinctShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle length must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"distinct_shingles expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TextKernels.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.shingles($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): DistinctShingles =
    copy(child = newChild)

  override def prettyName: String = "distinct_shingles"
}

object DistinctShingles {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, n: Int): Column =
    CatalystBridge.column(DistinctShingles(CatalystBridge.expression(text), n))
}

/** Generator form of [[DistinctShingles]]: one output row per distinct
  * shingle, columns (s string, sz long) where sz is the document's
  * distinct-shingle count.
  *
  * Why a Generator and not `explode(distinct_shingles(...))`: Catalyst's
  * InferFiltersFromGenerate + PushDownPredicates rewrite that plan into
  * `Filter(size(kernel(text))>0 AND isnotnull(kernel(text)))` BELOW the
  * projection — the kernel then runs three times per document (measured
  * on q30's plan). A custom generator is opaque to that rule, emits
  * nothing for shingle-less docs anyway, and calls the kernel exactly
  * once per document.
  */
final case class ShinglePostings(child: Expression, n: Int)
  extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.Generator
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(n >= 1, s"shingle length must be >= 1, got $n")

  override def elementSchema: StructType =
    StructType(Seq(StructField("s", StringType), StructField("sz", LongType)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_postings expects string, got ${child.dataType}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val t = child.eval(input)
    if (t == null) Nil
    else {
      val arr = TextKernels.shingles(t.asInstanceOf[UTF8String], n)
      val m = arr.numElements()
      if (m == 0) Nil
      else {
        val sz = m.toLong
        val out = new Array[org.apache.spark.sql.catalyst.InternalRow](m)
        var i = 0
        while (i < m) {
          out(i) = org.apache.spark.sql.catalyst.InternalRow(arr.getUTF8String(i), sz)
          i += 1
        }
        out
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ShinglePostings =
    copy(child = newChild)

  override def prettyName: String = "shingle_postings"
}

object ShinglePostings {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, n: Int): Column =
    CatalystBridge.column(ShinglePostings(CatalystBridge.expression(text), n))
}

/** `minhash_signature(text, n, k, portable, withSet)`: a document's
  * MinHash signature as one output row (set?, h0..h(k-1)) — `set`
  * array<long> when `withSet`, then k long minhashes — and no row for a
  * null text or a document without a shingle (see
  * TextKernels.minhashSignature). A per-row map: no postings explode,
  * no aggregate keyed on the id, no shuffle. Bit-equal to the postings
  * formulation `collect_set(xxhash64(s))` plus k `min(xxhash64(i, s))`
  * (portable: `min(h60(concat_ws(":", i, s)))`) grouped per document.
  *
  * A Generator for the reason [[ShinglePostings]] is one: a
  * struct-valued expression that downstream nodes filter on and read k
  * fields of is inlined into each reference by the optimizer, so the
  * kernel would run once per field; a Generate node runs it once per row.
  */
final case class MinhashSignature(
    child: Expression, n: Int, numHashes: Int, portable: Boolean, withSet: Boolean)
  extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.Generator
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(n >= 1, s"shingle length must be >= 1, got $n")
  require(numHashes >= 0 && (withSet || numHashes > 0),
    s"a signature needs the set or at least one minhash, got $numHashes hashes")

  @transient private lazy val hash = new SeededShingleHash(numHashes, portable)

  override def elementSchema: StructType = StructType(
    (if (withSet) Seq(StructField("set", ArrayType(LongType, containsNull = false), nullable = false))
     else Nil) ++ (0 until numHashes).map(i => StructField(s"h$i", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects string, got ${child.dataType}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val t = child.eval(input)
    val sig =
      if (t == null) null
      else TextKernels.minhashSignature(t.asInstanceOf[UTF8String], n, hash, withSet)
    if (sig == null) Nil else sig :: Nil
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

object MinhashSignature {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, n: Int, numHashes: Int, portable: Boolean, withSet: Boolean): Column =
    CatalystBridge.column(MinhashSignature(
      CatalystBridge.expression(text), n, numHashes, portable, withSet))
}

/** The k seeded shingle hashes MinHash and the Bloom n-gram filter
  * share, over a shingle's UTF-8 bytes: hash i is Spark's chained
  * `xxhash64(i, s)` (s hashed under the seed `hashInt(i, 42)`), or, when
  * `portable`, Dedup.h60 of "i:" ++ s, which any engine with md5
  * replays. Seeds and prefixes are derived once per instance; the md5
  * digest is stateful, so an instance serves one task.
  */
final class SeededShingleHash(val k: Int, portable: Boolean) {
  private val seeds = Array.tabulate(k)(i => XXH64.hashInt(i, 42L))
  private val prefixes = Array.tabulate(k)(i =>
    s"$i:".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
  private val md = if (portable) java.security.MessageDigest.getInstance("MD5") else null

  def apply(i: Int, bytes: Array[Byte], from: Int, len: Int): Long =
    if (portable) {
      md.update(prefixes(i))
      md.update(bytes, from, len)
      TextKernels.h60(md.digest())
    } else XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from, len, seeds(i))
}

/** `bucket_pairs(docs, threshold)`: ordered candidate pairs from one
  * inverted-index bucket. Input is array<struct<id long, sz long>> (the
  * docs sharing a shingle, each with its distinct-shingle count); output
  * rows are (id_a < id_b, szsum = sza+szb) with the exact length-ratio
  * prune `min(sz) ≥ threshold·max(sz)` applied inline (Jaccard ≤ min/max,
  * so pruned pairs can never reach the threshold). Only the SUM of the two
  * set sizes leaves the generator: downstream Jaccard is
  * inter/(szsum−inter), so shipping sza and szb separately would widen the
  * pipeline's biggest exchange for nothing.
  *
  * Replaces explode(docs)×explode(docs)+filters: that plan pushes m² rows
  * through two Generate nodes before filtering; this emits the ≤ m(m-1)/2
  * surviving pairs straight off the array — the widest intermediate of
  * the n-gram-Jaccard pipeline, produced at minimum cost.
  */
final case class BucketPairs(child: Expression, threshold: Double)
  extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.Generator
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("szsum", LongType)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(a, b)), _)
      if a.dataType == LongType && b.dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bucket_pairs expects array<struct<long,long>>, got $other")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Nil
    val arr = v.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m < 2) return Nil
    val ids = new Array[Long](m)
    val szs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val row = arr.getStruct(i, 2)
      ids(i) = row.getLong(0)
      szs(i) = row.getLong(1)
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.catalyst.InternalRow](m * (m - 1) / 2)
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        val mn = math.min(szs(i), szs(j))
        val mx = math.max(szs(i), szs(j))
        if (mn >= threshold * mx) {
          val szsum = szs(i) + szs(j)
          if (ids(i) < ids(j))
            out += org.apache.spark.sql.catalyst.InternalRow(ids(i), ids(j), szsum)
          else if (ids(j) < ids(i))
            out += org.apache.spark.sql.catalyst.InternalRow(ids(j), ids(i), szsum)
          // equal ids (same doc twice in a bucket cannot happen — postings
          // are distinct per doc) emit nothing
        }
        j += 1
      }
      i += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): BucketPairs =
    copy(child = newChild)

  override def prettyName: String = "bucket_pairs"
}

object BucketPairs {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(docs: Column, threshold: Double): Column =
    CatalystBridge.column(BucketPairs(CatalystBridge.expression(docs), threshold))
}

/** `rolling_text_hash(text)`: base-31 polynomial hash mod 2^31-1 of the
  * normalized text (classic Rabin-Karp fingerprint).
  */
final case class RollingTextHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_text_hash expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TextKernels.rollingHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.rollingHash($c);")

  override protected def withNewChildInternal(newChild: Expression): RollingTextHash =
    copy(child = newChild)

  override def prettyName: String = "rolling_text_hash"
}

object RollingTextHash {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column): Column =
    CatalystBridge.column(RollingTextHash(CatalystBridge.expression(text)))
}

/** `marker_counts(text, markers)`: per-marker whole-token occurrence
  * counts in ONE pass over the text — the langid substrate. Semantics are
  * EXACTLY Text.wordCount's non-overlapping padded-substring scan
  * (`size(split(' '||text||' ', ' w ')) - 1`; adjacent repeats of a
  * marker count once per non-overlapping " w " window), which is what the
  * DuckDB oracle replays — NOT token equality. Replaces 3×|languages|
  * separate split-scans (measured 0.6 s → ~0.05 s on the sf0.1 corpus).
  */
final case class MarkerCounts(child: Expression, markers: Seq[String])
  extends UnaryExpression {

  require(markers.nonEmpty, "marker_counts needs at least one marker")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"marker_counts expects string, got ${child.dataType}")

  @transient private lazy val needles: Array[String] =
    markers.map(m => " " + m + " ").toArray

  override def nullSafeEval(input: Any): Any =
    TextKernels.markerCounts(input.asInstanceOf[UTF8String], needles)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val needlesRef = ctx.addReferenceObj("needles", needles, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.markerCounts($c, $needlesRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): MarkerCounts =
    copy(child = newChild)

  override def prettyName: String = "marker_counts"
}

object MarkerCounts {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, markers: Seq[String]): Column =
    CatalystBridge.column(MarkerCounts(CatalystBridge.expression(text), markers))
}

/** Serializable helper holding the compiled pattern chain for
  * [[SeqRedact]]; patterns compile lazily once per executor.
  */
/** A stopword table compiled for the textStats kernel: hash set plus
  * length bounds so non-candidate tokens skip the substring allocation.
  * Serializable — rides codegen reference slots and task closures.
  * Calibration hook (VERDICT r10 #7): real-corpus runs pass their own
  * table through Text.textStats/stopwordRatio instead of editing
  * constants.
  */
final class StopSet(words: Seq[String]) extends Serializable {
  val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    words.foreach(s.add)
    s
  }
  val minLen: Int = if (words.isEmpty) 1 else words.map(_.length).min
  val maxLen: Int = if (words.isEmpty) 0 else words.map(_.length).max
}

final class SeqRedactHelper(val pairs: Seq[(String, String)]) extends Serializable {
  @transient private lazy val compiled: Array[java.util.regex.Pattern] =
    pairs.map(p => java.util.regex.Pattern.compile(p._1)).toArray
  @transient private lazy val repls: Array[String] =
    pairs.map(p => java.util.regex.Matcher.quoteReplacement(p._2)).toArray

  /** Sequential count-and-redact: category i's pattern runs over the text
    * ALREADY redacted by categories < i (spans attribute to exactly one
    * category), mirroring the chained `regexp_replace` semantics
    * bit-for-bit — both run java.util.regex on the same pattern strings.
    */
  def redact(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    var cur = text.toString
    val out = new Array[Any](pairs.length + 1)
    var i = 0
    while (i < compiled.length) {
      val m = compiled(i).matcher(cur)
      var c = 0
      if (m.find()) {
        val sb = new java.lang.StringBuffer(cur.length + 16)
        do { c += 1; m.appendReplacement(sb, repls(i)) } while (m.find())
        m.appendTail(sb)
        cur = sb.toString
      }
      out(i) = c
      i += 1
    }
    out(pairs.length) = UTF8String.fromString(cur)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }
}

/** `seq_redact(text)`: the full sequential redaction chain (n patterns,
  * each over the previously-redacted text) in ONE kernel returning all
  * match counts plus the final clean text:
  * struct<n_0 int, ..., n_{k-1} int, clean string>.
  *
  * The Column formulation (chained regexp_replace + tag-count diffs)
  * re-evaluates the chain once per derived column — fine under project
  * codegen CSE, but FILTER predicates get no subexpression elimination
  * in Spark, so a PII-density drop filter was paying ~9 regex passes per
  * row (measured 0.75 s at sf0.1). One kernel = 3 passes, shared by
  * counts and clean text, in any expression context.
  */
final case class SeqRedact(
    child: Expression,
    pairs: Seq[(String, String)],
    fieldNames: Seq[String]) extends UnaryExpression {

  require(pairs.nonEmpty && fieldNames.length == pairs.length,
    "seq_redact needs one field name per (pattern, tag) pair")

  override def dataType: DataType = StructType(
    fieldNames.map(n => StructField(n, IntegerType, nullable = false)) :+
      StructField("clean", StringType, nullable = false))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"seq_redact expects string, got ${child.dataType}")

  @transient private lazy val helper = new SeqRedactHelper(pairs)

  override def nullSafeEval(input: Any): Any =
    helper.redact(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helperRef =
      ctx.addReferenceObj("redactor", helper, classOf[SeqRedactHelper].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helperRef.redact($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SeqRedact =
    copy(child = newChild)

  override def prettyName: String = "seq_redact"
}

object SeqRedact {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, pairs: Seq[(String, String)], fieldNames: Seq[String]): Column =
    CatalystBridge.column(
      SeqRedact(CatalystBridge.expression(text), pairs, fieldNames))
}

/** Broadcast shingle set for [[ShingleHit]] — plain normalized-shingle
  * STRINGS (no hash-function parity to maintain), wrapped so the
  * reference object serializes once per executor.
  */
final class ShingleSet(shingles: Array[String]) extends Serializable {
  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](shingles.length * 2)
    shingles.foreach(s.add)
    s
  }

  def hit(text: UTF8String, n: Int): Boolean = {
    val toks = TextKernels.normTokens(text)
    if (toks.length < n) return false
    val sb = new java.lang.StringBuilder(n * 8)
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      if (set.contains(sb.toString)) return true
      i += 1
    }
    false
  }
}

/** `shingle_hit(text)`: does ANY word-n-gram of the normalized text
  * appear in the broadcast shingle set? The pure-FILTER formulation of
  * substring decontamination — usable on unbounded STREAMS where the
  * batch operator's explode → semi-join → distinct → anti-join chain is
  * not (no aggregation state, no join; early-exits on the first hit).
  */
final case class ShingleHit(child: Expression, n: Int, set: ShingleSet)
  extends UnaryExpression {

  require(n >= 1, s"shingle length must be >= 1, got $n")

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_hit expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    set.hit(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("shingleSet", set, classOf[ShingleSet].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $setRef.hit($c, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHit =
    copy(child = newChild)

  override def prettyName: String = "shingle_hit"
}

object ShingleHit {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, n: Int, set: ShingleSet): Column =
    CatalystBridge.column(ShingleHit(CatalystBridge.expression(text), n, set))
}

/** `apply_merge(seg, l, r)`: one BPE merge applied to a token array —
  * greedy left-to-right non-overlapping replacement of adjacent (l, r)
  * pairs by their concatenation (the classic application order; in
  * L==R runs the leftmost pair wins). One codegen kernel per merge;
  * an `aggregate` HOF fold would run interpreted.
  */
final case class ApplyMerge(child: Expression, l: String, r: String)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"apply_merge expects array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TextKernels.applyMerge(input.asInstanceOf[ArrayData], l, r)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("mergeL", l, "java.lang.String")
    val rRef = ctx.addReferenceObj("mergeR", r, "java.lang.String")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.applyMerge($c, $lRef, $rRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): ApplyMerge =
    copy(child = newChild)

  override def prettyName: String = "apply_merge"
}

object ApplyMerge {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(seg: Column, l: String, r: String): Column =
    CatalystBridge.column(ApplyMerge(CatalystBridge.expression(seg), l, r))
}

/** A batch of NON-INTERACTING merges packaged for one-pass application
  * (the ShingleSet/BpeRanks closure pattern): pairwise, no two batch
  * pairs share a left/right unit AND no pair's product equals another
  * pair's unit, so their occurrences can never overlap in a token
  * array and none can create another's match — ONE greedy
  * left-to-right scan applies all of them exactly as applying each
  * pair's own greedy scan in any sequence would
  * ([[graft.functions.Bpe.trainMergesBatched]] proves and exploits the
  * equivalence). Both conditions are REQUIRED, checked at
  * construction: with shared units a combined scan and a sequential
  * fold genuinely diverge ("a b b" under {(a,b),(b,b)}), and with a
  * product-as-unit collision the fold ORDER matters ("a b c" under
  * {(ab,c),(a,b)}: (a,b)-first yields [abc], (ab,c)-first [ab, c]) —
  * there is no order-free semantics to promise. (Two pairs PRODUCING
  * the same string, e.g. (a,bc)/(ab,c) → abc, remain legal: their
  * matches cannot overlap and neither creates the other's units.)
  */
final class MergeBatch(val pairs: Array[(String, String)]) extends Serializable {
  require(pairs.nonEmpty, "empty merge batch")
  locally {
    val units = new java.util.HashSet[String](pairs.length * 4)
    pairs.foreach { case (l, r) =>
      require(units.add(l) && (l == r || units.add(r)),
        s"merge batch pairs must not share units: ($l, $r) collides")
    }
    pairs.foreach { case (l, r) =>
      require(!units.contains(l + r),
        s"merge batch pair ($l, $r): its product ${l + r} is another " +
          "pair's unit — application order would change the result")
    }
  }

  /** l -> (r -> merged product), keyed on UTF8String DIRECTLY so the
    * per-adjacent-pair lookup in [[TextKernels.applyMergeBatch]]
    * allocates nothing on the (overwhelmingly common) miss path -- a
    * String conversion per token pair per row is pure GC pressure in
    * exactly the kernel the batching exists to speed up.
    */
  @transient private lazy val prod:
      java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, UTF8String]] = {
    val m = new java.util.HashMap[
      UTF8String, java.util.HashMap[UTF8String, UTF8String]](pairs.length * 2)
    pairs.foreach { case (l, r) =>
      var inner = m.get(UTF8String.fromString(l))
      if (inner == null) {
        inner = new java.util.HashMap[UTF8String, UTF8String](2)
        m.put(UTF8String.fromString(l), inner)
      }
      inner.put(UTF8String.fromString(r), UTF8String.fromString(l + r))
    }
    m
  }

  def product(l: UTF8String, r: UTF8String): UTF8String = {
    val inner = prod.get(l)
    if (inner == null) null else inner.get(r)
  }
}

/** `apply_merge_batch(seg)`: every merge of a [[MergeBatch]] applied in
  * ONE greedy left-to-right pass — the kernel that turns k-merge
  * training from k vocab-table scans into k/B ([[graft.functions.Bpe
  * .trainMergesBatched]]). Semantics per pair identical to folding
  * [[ApplyMerge]] over the batch in any order (disjoint units).
  */
final case class ApplyMergeBatch(child: Expression, batch: MergeBatch)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"apply_merge_batch expects array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TextKernels.applyMergeBatch(input.asInstanceOf[ArrayData], batch)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("mergeBatch", batch, classOf[MergeBatch].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.applyMergeBatch($c, $bRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): ApplyMergeBatch =
    copy(child = newChild)

  override def prettyName: String = "apply_merge_batch"
}

object ApplyMergeBatch {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(seg: Column, batch: MergeBatch): Column =
    CatalystBridge.column(ApplyMergeBatch(CatalystBridge.expression(seg), batch))
}

/** An ordered BPE merge list packaged for executor-side encoding: a
  * (left, right) → rank hash map, serialized ONCE per executor as a
  * codegen reference object (the ShingleSet pattern). Encoding runs
  * leftmost-lowest-rank-first per word, which for a TRAINED merge list
  * (each merge's components contain only characters and products of
  * strictly earlier merges — what [[graft.functions.Bpe.trainMerges]]
  * produces by construction) is exactly equivalent to applying each
  * merge exhaustively in rank order, i.e. to folding
  * [[graft.plans.ApplyMerge]] over ranks 1..k: a later merge can never
  * create an earlier merge's pair, and one greedy pass per rank is a
  * fixpoint (a merge's product l+r can never equal its own l or r).
  * BpeSpec pins the equivalence against the segmentWords fold.
  */
final class BpeRanks(merges: Array[(String, String)]) extends Serializable {
  require(merges.nonEmpty, "empty merge list")

  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      // A space never appears inside a trained token (words are
      // split on spaces first), so the joined key is collision-free.
      m.putIfAbsent(merges(i)._1 + " " + merges(i)._2, i)
      i += 1
    }
    m
  }

  private def rankOf(l: String, r: String): Int = {
    val v = rank.get(l + " " + r)
    if (v == null) Int.MaxValue else v.intValue()
  }

  /** Token → integer id, derived from the MODEL alone (no corpus pass,
    * no vocab table): a merge PRODUCT gets its 0-based rank — every
    * multi-char token is some merge's product, since tokens only grow
    * by merging — and a single-char token gets `merges.length + its
    * code point`. Deterministic, collision-free, and replayable in SQL
    * from the training CTEs (`k + unicode(t)` / the rank of `l || r`).
    * First rank wins if a degenerate hand-built list repeats a product
    * string; trained lists never do.
    */
  @transient private lazy val productId: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      m.putIfAbsent(merges(i)._1 + merges(i)._2, i)
      i += 1
    }
    m
  }

  def idOf(token: String): Int =
    if (token.length == 1) merges.length + token.charAt(0).toInt
    else {
      val v = productId.get(token)
      require(v != null, s"token '$token' is neither single-char nor a merge product")
      v.intValue()
    }

  /** Tokenize one document: split on single spaces (the Text.tokens /
    * DuckDB string_split convention every token-path operator shares),
    * seed each word with its per-char segmentation, then repeatedly
    * merge the leftmost lowest-rank adjacent pair until none applies.
    * Word boundaries are hard: no merge crosses a space, and empty
    * words (leading/trailing/double spaces) contribute no tokens.
    */
  private def segmentWord(word: String): java.util.ArrayList[String] = {
    val seg = new java.util.ArrayList[String](word.length)
    var c = 0
    while (c < word.length) { seg.add(String.valueOf(word.charAt(c))); c += 1 }
    var done = false
    while (!done && seg.size > 1) {
      var best = -1
      var bestRank = Int.MaxValue
      var i = 0
      while (i < seg.size - 1) {
        val rk = rankOf(seg.get(i), seg.get(i + 1))
        if (rk < bestRank) { bestRank = rk; best = i }
        i += 1
      }
      if (best < 0) done = true
      else {
        seg.set(best, seg.get(best) + seg.get(best + 1))
        seg.remove(best + 1)
      }
    }
    seg
  }

  def encode(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    val out = new java.util.ArrayList[Any](words.length * 4)
    var w = 0
    while (w < words.length) {
      val word = words(w)
      if (word.nonEmpty) {
        val seg = segmentWord(word)
        var t = 0
        while (t < seg.size) { out.add(UTF8String.fromString(seg.get(t))); t += 1 }
      }
      w += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Inverse of [[idOf]]: a rank id maps back to its merge PRODUCT
    * string, a char id back to its single UTF-16 unit. Loud on
    * out-of-range ids — silent garbage here would poison a
    * detokenized corpus one bad id at a time.
    */
  def tokenOf(id: Int): String = {
    require(id >= 0 && id < merges.length + 65536,
      s"token id $id outside [0, ${merges.length + 65536}) for a " +
        s"${merges.length}-merge model")
    if (id < merges.length) merges(id)._1 + merges(id)._2
    else String.valueOf((id - merges.length).toChar)
  }

  /** Detokenize one id array: token strings concatenate in order. Word
    * boundaries are not representable in the id stream (encode splits
    * on single spaces and drops them), so the exact round-trip identity
    * is decode(encodeIds(text)) == text with spaces removed — the
    * property the q139 gate hashes corpus-wide.
    */
  def decodeIds(ids: ArrayData): UTF8String = {
    val n = ids.numElements()
    val sb = new java.lang.StringBuilder(n * 3)
    var i = 0
    while (i < n) { sb.append(tokenOf(ids.getInt(i))); i += 1 }
    UTF8String.fromString(sb.toString)
  }

  /** Same tokenization, emitted as integer ids (see [[idOf]]). */
  def encodeIds(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    val out = new java.util.ArrayList[Any](words.length * 4)
    var w = 0
    while (w < words.length) {
      val word = words(w)
      if (word.nonEmpty) {
        val seg = segmentWord(word)
        var t = 0
        while (t < seg.size) { out.add(idOf(seg.get(t))); t += 1 }
      }
      w += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `bpe_encode(text)`: whole-document subword tokenization under a
  * trained merge list, in ONE codegen pass — the "apply the tokenizer
  * to the corpus" step that follows [[graft.functions.Bpe.trainMerges]]
  * in every pretraining pipeline. The model rides the closure (merge
  * lists are vocab-sized, ≤64k entries by the Bpe.encode gate), so a
  * 100 TB corpus encodes entirely map-side: no dictionary join, no
  * shuffle, tokens materialize inside the scan partition that read the
  * text.
  */
final case class BpeEncodeText(child: Expression, model: BpeRanks)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_encode expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    model.encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val modelRef = ctx.addReferenceObj("bpeRanks", model, classOf[BpeRanks].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $modelRef.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeText =
    copy(child = newChild)

  override def prettyName: String = "bpe_encode"
}

object BpeEncodeText {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, model: BpeRanks): Column =
    CatalystBridge.column(BpeEncodeText(CatalystBridge.expression(text), model))
}

/** `bpe_encode_ids(text)`: [[BpeEncodeText]] emitting integer token ids
  * instead of strings (see [[BpeRanks.idOf]]) — the training-ready
  * shape: an int per token instead of a re-materialized substring, so
  * the encoded corpus is ~4 bytes/token before compression.
  */
final case class BpeEncodeIds(child: Expression, model: BpeRanks)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_encode_ids expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    model.encodeIds(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val modelRef = ctx.addReferenceObj("bpeRanks", model, classOf[BpeRanks].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $modelRef.encodeIds($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeIds =
    copy(child = newChild)

  override def prettyName: String = "bpe_encode_ids"
}

object BpeEncodeIds {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, model: BpeRanks): Column =
    CatalystBridge.column(BpeEncodeIds(CatalystBridge.expression(text), model))
}

/** `token_entropy(text)`: per-document bag-of-tokens statistics in ONE
  * pass — struct<n_tokens long, n_types long, hf long> where hf is the
  * Shannon entropy in micro-nats: Σ over distinct tokens of
  * round((c/n)·ln(n/c)·1e6). Terms quantize to longs BEFORE summing, so
  * the sum is order-free and the relational two-shuffle formulation
  * ((doc,tok) count → doc re-aggregate) replays it exactly — this kernel
  * removes BOTH shuffles: the corpus never leaves its scan partitions.
  */
final case class TokenEntropy(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_types", LongType, nullable = false),
    StructField("hf", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_entropy expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TextKernels.tokenEntropy(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.tokenEntropy($c);")

  override protected def withNewChildInternal(newChild: Expression): TokenEntropy =
    copy(child = newChild)

  override def prettyName: String = "token_entropy"
}

object TokenEntropy {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column): Column =
    CatalystBridge.column(TokenEntropy(CatalystBridge.expression(text)))
}

/** `excise_spans(text, starts, spanWords)`: codegen'd span excision for
  * exact-substring dedup (see TextKernels.exciseSpans). `starts` must be
  * a sorted-ascending array<long> of 1-based duplicated span starts.
  */
final case class ExciseSpans(left: Expression, right: Expression, spanWords: Int)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"excise_spans expects (string, array<long>), got ($l, $r)")
    }

  override def nullSafeEval(text: Any, starts: Any): Any =
    TextKernels.exciseSpans(
      text.asInstanceOf[UTF8String], starts.asInstanceOf[ArrayData], spanWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, st) =>
      s"${ev.value} = graft.plans.TextKernels.exciseSpans($t, $st, $spanWords);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExciseSpans =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "excise_spans"
}

object ExciseSpans {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, starts: Column, spanWords: Int): Column =
    CatalystBridge.column(ExciseSpans(
      CatalystBridge.expression(text), CatalystBridge.expression(starts), spanWords))
}

/** `gram_hashes(text, spanWords, portable)`: sliding token-gram hash
  * array in one byte-level pass (see TextKernels.gramHashes).
  */
final case class GramHashes(child: Expression, spanWords: Int, portable: Boolean)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gram_hashes expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TextKernels.gramHashes(input.asInstanceOf[UTF8String], spanWords, portable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.gramHashes($c, $spanWords, $portable);")

  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)

  override def prettyName: String = "gram_hashes"
}

object GramHashes {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, spanWords: Int, portable: Boolean): Column =
    CatalystBridge.column(GramHashes(
      CatalystBridge.expression(text), spanWords, portable))
}

/** Model-in-closure Bloom filter: the packed bit words of a persisted
  * n-gram filter (graft.functions.Bloom), shipped to executors inside
  * the stage's task binary — membership for a whole document evaluates
  * in ONE narrow kernel call, so novelty / decontamination probes are
  * shuffle-free scans (the join-path alternative exchanges one row per
  * (doc, gram)). Bounded by the caller to filters whose dense word
  * array stays task-binary-sized (Bloom.FastClosureMaxLogM).
  *
  * Hashing mirrors the Column formulation bit for bit: position i of
  * gram g is [[SeededShingleHash]] i of g (md5("i:" ++ g) first-15-hex
  * when portable, else Spark's chained xxhash64(i, g)), taken pmod
  * 2^logM.
  */
final class BloomBits(
    val words: Array[Long],
    val logM: Int,
    val k: Int,
    val shingleLen: Int,
    val portable: Boolean) extends Serializable {

  @transient private lazy val hash = new SeededShingleHash(k, portable)

  /** (n_shingles, contained) of a document's DISTINCT normalized
    * shingle set — the TextKernels.shingles semantics, so the kernel
    * and the shinglePostings join path see identical gram sets.
    */
  def hits(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val grams = TextKernels.shingles(text, shingleLen)
    val n = grams.numElements()
    val m = 1L << logM
    var contained = 0L
    var g = 0
    while (g < n) {
      val gram = grams.getUTF8String(g).getBytes
      var allSet = true
      var i = 0
      while (allSet && i < k) {
        val pos = java.lang.Math.floorMod(hash(i, gram, 0, gram.length), m)
        if ((words((pos >> 6).toInt) & (1L << (pos & 63L))) == 0L)
          allSet = false
        i += 1
      }
      if (allSet) contained += 1
      g += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(n.toLong, contained)
  }
}

/** (n_shingles, contained) struct of a document against a closure-held
  * Bloom filter — see [[BloomBits]].
  */
final case class BloomHits(child: Expression, model: BloomBits)
  extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_shingles", LongType, nullable = false),
    StructField("contained", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_hits expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    model.hits(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val modelRef = ctx.addReferenceObj("bloomBits", model, classOf[BloomBits].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $modelRef.hits($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomHits =
    copy(child = newChild)

  override def prettyName: String = "bloom_hits"
}

object BloomHits {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, model: BloomBits): Column =
    CatalystBridge.column(BloomHits(CatalystBridge.expression(text), model))
}

/** Unicode NFC normalization (canonical composition) — the hygiene step
  * that makes byte-level dedup/hashing see "café" identically whether a
  * crawler delivered it precomposed or as base+combining mark. NFC (not
  * NFKC) deliberately: canonical equivalence is lossless and replayable
  * by any engine with a normalizer (DuckDB: nfc_normalize);
  * compatibility folding (ligatures, width) changes content and stays a
  * caller decision.
  */
final case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TextKernels.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.nfc($c);")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

object NfcNormalize {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column): Column =
    CatalystBridge.column(NfcNormalize(CatalystBridge.expression(text)))
}

/** `bpe_decode_ids(ids)`: detokenization — the inverse map of
  * [[BpeEncodeIds]], in the same model-in-closure shape: the merge list
  * rides the task binary, every id array decodes inside the scan
  * partition that read it, zero exchanges at any corpus size. Ids
  * resolve per [[BpeRanks.idOf]]'s closed form (rank → merge product,
  * `merges.size + code unit` → single char), so decode needs no vocab
  * table or join. Out-of-range ids fail loudly (see
  * [[BpeRanks.tokenOf]]).
  */
final case class BpeDecodeIds(child: Expression, model: BpeRanks)
  extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_decode_ids expects array<int>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    model.decodeIds(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val modelRef = ctx.addReferenceObj("bpeRanks", model, classOf[BpeRanks].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $modelRef.decodeIds($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeDecodeIds =
    copy(child = newChild)

  override def prettyName: String = "bpe_decode_ids"
}

object BpeDecodeIds {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(ids: Column, model: BpeRanks): Column =
    CatalystBridge.column(BpeDecodeIds(CatalystBridge.expression(ids), model))
}

/** `script_profile(text)`: per-document writing-system census in ONE
  * codepoint pass — struct of per-script character counts plus the
  * dominant script — the charset/language front gate web-crawl
  * pipelines apply before language-ID proper (a doc whose dominant
  * script is cyrillic never reaches the latin-ngram langid model).
  *
  * Ranges are deliberate EXPLICIT codepoint intervals (not library
  * Unicode tables, whose versions drift between engines):
  * latin A–Z a–z U+00C0–U+024F (Latin-1 supplement + Extended-A/B,
  * wholesale — the ×/÷ signs inside are a documented simplification),
  * digits 0–9, greek U+0370–03FF, cyrillic U+0400–04FF, arabic
  * U+0600–06FF, hangul syllables U+AC00–D7A3, cjk U+4E00–9FFF +
  * kana U+3040–30FF, whitespace the explicit 5-char class, everything
  * else `other`. Dominant = alphabetically-first script name achieving
  * the max count over the six scripts; `none` when all six are zero.
  * Every rule is replayable integer logic over codepoints, so an
  * independent engine agrees exactly.
  */
final case class ScriptProfile(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_latin", LongType, nullable = false),
    StructField("n_digit", LongType, nullable = false),
    StructField("n_greek", LongType, nullable = false),
    StructField("n_cyrillic", LongType, nullable = false),
    StructField("n_arabic", LongType, nullable = false),
    StructField("n_hangul", LongType, nullable = false),
    StructField("n_cjk", LongType, nullable = false),
    StructField("n_space", LongType, nullable = false),
    StructField("n_other", LongType, nullable = false),
    StructField("dominant", StringType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"script_profile expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TextKernels.scriptProfile(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.scriptProfile($c);")

  override protected def withNewChildInternal(newChild: Expression): ScriptProfile =
    copy(child = newChild)

  override def prettyName: String = "script_profile"
}

object ScriptProfile {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column): Column =
    CatalystBridge.column(ScriptProfile(CatalystBridge.expression(text)))
}

/** `best_snippet(text)`: the highest-query-term-density window of a
  * document — retrieval snippet/passage selection (the "show the user
  * WHY this document matched" tail of a BM25 pipeline, and the
  * passage-picking front of a RAG chunker when only one window per doc
  * may be kept). Query terms ride the closure (a query is tiny); one
  * rolling-count pass per document, zero exchanges at any corpus size.
  * Ties on hit count go to the SMALLEST start — deterministic and
  * SQL-replayable. Output struct: (snip_start 1-based long, n_hits
  * long, snippet string).
  */
final case class BestSnippet(child: Expression, terms: StopSet, window: Int)
  extends UnaryExpression {
  require(window >= 1, s"window must be >= 1, got $window")

  override def dataType: DataType = StructType(Seq(
    StructField("snip_start", LongType, nullable = false),
    StructField("n_hits", LongType, nullable = false),
    StructField("snippet", StringType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"best_snippet expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TextKernels.snippetWindow(input.asInstanceOf[UTF8String], terms, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val termsRef = ctx.addReferenceObj("terms", terms, classOf[StopSet].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.snippetWindow($c, $termsRef, $window);")
  }

  override protected def withNewChildInternal(newChild: Expression): BestSnippet =
    copy(child = newChild)

  override def prettyName: String = "best_snippet"
}

object BestSnippet {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, terms: Seq[String], window: Int): Column =
    CatalystBridge.column(
      BestSnippet(CatalystBridge.expression(text), new StopSet(terms), window))
}

/** Unigram-LM tokenizer model (Kudo 2018, "Subword Regularization" —
  * the SentencePiece unigram algorithm): pieces with integer micro-nat
  * log-probabilities, applied per word by exact Viterbi. Ships in the
  * closure like [[BpeRanks]] (vocab-sized, ≤64k pieces), so encoding is
  * a pure map over the corpus — no dictionary join, no shuffle.
  *
  * Determinism contract (what the DuckDB replay oracle mirrors):
  *  - scores are exact long sums of micro-nat logps — no float drift;
  *  - DP ties (equal score into position j) resolve to the SMALLEST
  *    predecessor i, i.e. the longest final piece;
  *  - a word longer than `maxWordLen`, or one with no complete
  *    segmentation (a character outside the model), is emitted WHOLE as
  *    a single fallback piece — total, and replayable as a length/
  *    reachability CASE.
  */
/** Shared codepoint-boundary helper for the closure tokenizer models:
  * UTF-16 offsets of each codepoint boundary (length = #codepoints + 1),
  * so all DP/greedy indexing is over CODEPOINTS and the kernels agree
  * with SQL `length`/`substring`/`substr` semantics — and with the
  * DuckDB replay oracles — even past the BMP (emoji, supplementary CJK).
  * One definition: the surrogate discipline must not fork between the
  * Unigram and WordPiece models.
  */
private[plans] object Codepoints {
  def offsets(word: String): Array[Int] = {
    val len = word.length
    var cnt = 0
    var i = 0
    while (i < len) { cnt += 1; i += Character.charCount(word.codePointAt(i)) }
    val offs = new Array[Int](cnt + 1)
    var k = 0
    i = 0
    while (i < len) { offs(k) = i; i += Character.charCount(word.codePointAt(i)); k += 1 }
    offs(cnt) = len
    offs
  }
}

final class UnigramModel(pieces: Array[(String, Long)], val maxWordLen: Int)
    extends Serializable {
  require(pieces.nonEmpty && pieces.length <= 65536,
    s"unigram model must have 1..65536 pieces, got ${pieces.length}")
  require(maxWordLen >= 1, s"bad maxWordLen $maxWordLen")

  @transient private lazy val logp: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.length * 2)
    var i = 0
    while (i < pieces.length) { m.putIfAbsent(pieces(i)._1, pieces(i)._2); i += 1 }
    m
  }

  @transient private lazy val maxPieceLen: Int = {
    var mx = 1
    var i = 0
    while (i < pieces.length) {
      val p = pieces(i)._1
      val c = p.codePointCount(0, p.length)
      if (c > mx) mx = c; i += 1
    }
    mx
  }

  private val NegInf = java.lang.Long.MIN_VALUE / 2

  // codepoint indexing via the shared [[Codepoints]] helper — same
  // discipline as CharGrams and WordPieceModel
  private def cpOffsets(word: String): Array[Int] = Codepoints.offsets(word)

  /** Viterbi-best segmentation over codepoint positions; null when the
    * word has no complete segmentation under the model (caller emits the
    * fallback). `offs` maps codepoint index -> UTF-16 offset.
    */
  private def viterbi(word: String, offs: Array[Int]): java.util.ArrayList[String] = {
    val n = offs.length - 1
    val dp = new Array[Long](n + 1)
    val back = new Array[Int](n + 1)
    var j = 1
    dp(0) = 0L
    while (j <= n) {
      dp(j) = NegInf
      back(j) = -1
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        if (dp(i) > NegInf) {
          val lp = logp.get(word.substring(offs(i), offs(j)))
          if (lp != null) {
            val score = dp(i) + lp.longValue()
            // strict >: with i ascending, the SMALLEST i wins ties
            if (score > dp(j)) { dp(j) = score; back(j) = i }
          }
        }
        i += 1
      }
      j += 1
    }
    if (dp(n) <= NegInf) null
    else {
      val rev = new java.util.ArrayList[String](8)
      var p = n
      while (p > 0) { rev.add(word.substring(offs(back(p)), offs(p))); p = back(p) }
      val out = new java.util.ArrayList[String](rev.size)
      var k = rev.size - 1
      while (k >= 0) { out.add(rev.get(k)); k -= 1 }
      out
    }
  }

  /** Segment one word with the fallback rule applied. Word length is
    * measured in codepoints, matching the SQL-side `length(w)` filter.
    */
  def segmentWord(word: String): java.util.ArrayList[String] = {
    val offs = cpOffsets(word)
    if (offs.length - 1 > maxWordLen) {
      val out = new java.util.ArrayList[String](1); out.add(word); out
    } else {
      val v = viterbi(word, offs)
      if (v != null) v
      else { val out = new java.util.ArrayList[String](1); out.add(word); out }
    }
  }

  /** Tokenize one document: split on single spaces (the Text.tokens /
    * string_split convention), Viterbi per word, word boundaries hard.
    */
  def encode(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    val out = new java.util.ArrayList[Any](words.length * 4)
    var w = 0
    while (w < words.length) {
      val word = words(w)
      if (word.nonEmpty) {
        val seg = segmentWord(word)
        var t = 0
        while (t < seg.size) { out.add(UTF8String.fromString(seg.get(t))); t += 1 }
      }
      w += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `unigram_encode(text)`: whole-document Viterbi tokenization under a
  * trained [[UnigramModel]] in ONE codegen pass — the unigram twin of
  * [[BpeEncodeText]], same closure-model scale shape.
  */
final case class UnigramEncodeText(child: Expression, model: UnigramModel)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"unigram_encode expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    model.encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val modelRef = ctx.addReferenceObj("unigramModel", model,
      classOf[UnigramModel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $modelRef.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramEncodeText =
    copy(child = newChild)

  override def prettyName: String = "unigram_encode"
}

object UnigramEncodeText {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, model: UnigramModel): Column =
    CatalystBridge.column(UnigramEncodeText(CatalystBridge.expression(text), model))
}

/** Greedy longest-match-first ("WordPiece"-style, Schuster & Nakajima
  * 2012 / the BERT tokenizer's encode rule) segmentation model over a
  * piece vocabulary: at each position take the LONGEST vocab piece
  * matching the remaining word, advance, repeat. Same closure-model
  * contract as [[UnigramModel]] (≤ 64k pieces, broadcast once per
  * executor), same codepoint indexing discipline (all positions/lengths
  * are codepoints, so the kernel agrees with SQL `length`/`substr` and
  * the DuckDB replay even past the BMP), same fallback rule (a word
  * longer than `maxWordLen` codepoints, or one that hits a position no
  * piece matches, emits ITSELF as one piece — a real deployment maps
  * fallback pieces to [UNK] downstream; keeping the word keeps the
  * kernel oracle-replayable without a reserved token).
  */
final class WordPieceModel(pieces: Array[String], val maxWordLen: Int)
    extends Serializable {
  require(pieces.nonEmpty && pieces.length <= 65536,
    s"wordpiece vocab must have 1..65536 pieces, got ${pieces.length}")
  require(maxWordLen >= 1, s"bad maxWordLen $maxWordLen")

  @transient private lazy val vocab: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](pieces.length * 2)
    var i = 0
    while (i < pieces.length) { s.add(pieces(i)); i += 1 }
    s
  }

  @transient private lazy val maxPieceLen: Int = {
    var mx = 1
    var i = 0
    while (i < pieces.length) {
      val p = pieces(i)
      val c = p.codePointCount(0, p.length)
      if (c > mx) mx = c; i += 1
    }
    mx
  }

  def segmentWord(word: String): java.util.ArrayList[String] = {
    val offs = Codepoints.offsets(word)
    val n = offs.length - 1
    if (n > maxWordLen) {
      val out = new java.util.ArrayList[String](1); out.add(word); out
    } else {
      val out = new java.util.ArrayList[String](4)
      var pos = 0
      while (pos < n) {
        var l = math.min(maxPieceLen, n - pos)
        var hit: String = null
        while (l >= 1 && hit == null) {
          val sub = word.substring(offs(pos), offs(pos + l))
          if (vocab.contains(sub)) hit = sub else l -= 1
        }
        if (hit == null) {
          // unknown at this position: whole-word fallback
          val fb = new java.util.ArrayList[String](1); fb.add(word); return fb
        }
        out.add(hit); pos += l
      }
      out
    }
  }

  /** Tokenize one document: split on single spaces (the Text.tokens /
    * string_split convention), greedy per word, word boundaries hard.
    */
  def encode(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    val out = new java.util.ArrayList[Any](words.length * 2)
    var w = 0
    while (w < words.length) {
      val word = words(w)
      if (word.nonEmpty) {
        val seg = segmentWord(word)
        var t = 0
        while (t < seg.size) { out.add(UTF8String.fromString(seg.get(t))); t += 1 }
      }
      w += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `wordpiece_encode(text)`: whole-document greedy longest-match
  * tokenization under a [[WordPieceModel]] in ONE codegen pass — the
  * third tokenizer family next to [[BpeEncodeText]] and
  * [[UnigramEncodeText]], same closure-model scale shape.
  */
final case class WordPieceEncodeText(child: Expression, model: WordPieceModel)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"wordpiece_encode expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    model.encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val modelRef = ctx.addReferenceObj("wordPieceModel", model,
      classOf[WordPieceModel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $modelRef.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordPieceEncodeText =
    copy(child = newChild)

  override def prettyName: String = "wordpiece_encode"
}

object WordPieceEncodeText {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, model: WordPieceModel): Column =
    CatalystBridge.column(WordPieceEncodeText(CatalystBridge.expression(text), model))
}

/** `char_grams(text, n)`: every sliding character n-gram of the raw
  * text (positions 1..len-n+1, spaces included — they carry the word-
  * boundary signal), one codegen pass. Texts shorter than n yield an
  * empty array. Shared by NB language-classifier training (per-language
  * gram counts) and its oracle-replayable scoring.
  */
final case class CharGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1 && n <= 8, s"char gram length $n out of [1, 8]")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_grams expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TextKernels.charGrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.charGrams($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): CharGrams =
    copy(child = newChild)

  override def prettyName: String = "char_grams"
}

object CharGrams {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, n: Int): Column =
    CatalystBridge.column(CharGrams(CatalystBridge.expression(text), n))
}

/** fastText-style Naive-Bayes language model over char n-grams: per
  * language a micro-nat log-prior, per (gram, language) a micro-nat
  * Laplace log-likelihood, and per language an OOV floor. Languages are
  * kept SORTED ascending — argmax ties resolve to the smallest language
  * code, the exact rule the DuckDB replay mirrors with
  * (score desc, lang asc). Vocab-bounded (≤64k grams), ships in the
  * closure like every other model-in-closure scorer.
  */
final class LangNbModel(
    val langs: Array[String],
    priors: Array[Long],
    floors: Array[Long],
    gramLlp: Array[(String, Array[Long])],
    val n: Int) extends Serializable {
  require(langs.nonEmpty && langs.length == priors.length &&
    langs.length == floors.length, "ragged language model")
  require(gramLlp.length <= 65536, s"gram model exceeds 64k: ${gramLlp.length}")
  require(langs.sameElements(langs.sorted), "langs must be sorted ascending")

  @transient private lazy val byGram: java.util.HashMap[String, Array[Long]] = {
    val m = new java.util.HashMap[String, Array[Long]](gramLlp.length * 2)
    var i = 0
    while (i < gramLlp.length) {
      require(gramLlp(i)._2.length == langs.length, "ragged gram row")
      m.putIfAbsent(gramLlp(i)._1, gramLlp(i)._2)
      i += 1
    }
    m
  }

  /** (bestLang, bestScore) over priors + Σ per-position gram llps.
    * Codepoint-based gram walk — same boundaries as [[CharGrams]].
    */
  def predict(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val cps = text.toString.codePoints().toArray
    val k = langs.length
    val scores = new Array[Long](k)
    System.arraycopy(priors, 0, scores, 0, k)
    var i = 0
    val last = cps.length - n
    while (i <= last) {
      val arr = byGram.get(new String(cps, i, n))
      var l = 0
      if (arr != null) while (l < k) { scores(l) += arr(l); l += 1 }
      else while (l < k) { scores(l) += floors(l); l += 1 }
      i += 1
    }
    var best = 0
    var l = 1
    while (l < k) { if (scores(l) > scores(best)) best = l; l += 1 }
    org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString(langs(best)), scores(best))
  }
}

/** `nb_langid(text)`: one-pass NB language prediction under a trained
  * [[LangNbModel]] — struct<lang_pred, score_mu>. Zero shuffles: the
  * corpus scores inside the scan partitions that read it.
  */
final case class LangNbPredict(child: Expression, model: LangNbModel)
  extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("lang_pred", StringType, nullable = false),
    StructField("score_mu", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nb_langid expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    model.predict(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val modelRef = ctx.addReferenceObj("langNbModel", model,
      classOf[LangNbModel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $modelRef.predict($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): LangNbPredict =
    copy(child = newChild)

  override def prettyName: String = "nb_langid"
}

object LangNbPredict {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.CatalystBridge

  def apply(text: Column, model: LangNbModel): Column =
    CatalystBridge.column(LangNbPredict(CatalystBridge.expression(text), model))
}
