package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hashing and vector primitives.
  *
  * Everything here is reproducible bit-for-bit in ANSI SQL (and therefore in
  * the DuckDB oracle): the hash is "parse the first 15 hex chars of md5 as a
  * base-16 integer" — 60 bits, fits a signed BIGINT — rather than xxhash64,
  * which only Spark has. All helpers are Column expressions built from
  * built-in functions (higher-order array functions, no UDFs), so they stay
  * inside Catalyst and distribute trivially.
  *
  * DuckDB mirrors (used by the oracle SQL):
  *   h60(x)          ('0x' || substr(md5(x), 1, 15))::BIGINT
  *   tokens(t)       regexp_split_to_array(t, '\s+')
  *   wordShingles    list_transform(range(1, len(toks)-w+2),
  *                     i -> array_to_string(list_slice(toks, i, i+w-1), ' '))
  *   charGrams       list_transform(range(1, length(t)-n+2),
  *                     i -> substr(t, i, n))
  *   dotD            list_sum(list_transform(range(1, n+1),
  *                     i -> a[i]::DOUBLE * b[i]::DOUBLE))
  */
object CrossHash {

  /** 60-bit hash both engines can compute identically. Resolves to the
    * native codegen expression [[H60]] when [[graft.GraftExtensions]] is
    * registered in the active session, and falls back to the bit-identical
    * built-in formulation [[h60Builtin]] otherwise — sessions without the
    * extension keep working, just without the allocation-free fast path.
    */
  def h60(c: Column): Column =
    if (hasNativeFunction("graft_h60")) call_function("graft_h60", c.cast("string"))
    else h60Builtin(c)

  /** Pre-promotion formulation of [[h60]] — the readable spec of the
    * semantics, for sessions without GraftExtensions.
    */
  def h60Builtin(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Salted variant — an alternative way to derive k "independent" hash
    * functions (k md5 calls); the MinHash pipeline instead derives its
    * family arithmetically from one h60 (see Dedup.familyHash), which
    * benched ~5× faster.
    */
  def h60Salted(salt: Int, c: Column): Column =
    h60(concat(lit(s"$salt:"), c))

  /** Whitespace word tokens. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** Empty-input-safe windows helper: `sequence(1, upper)` turns DESCENDING
    * for upper < 1 (Spark defaults the step to -1), which would fabricate
    * windows for too-short inputs where the oracle's `range(1, upper+1)`
    * is empty — so short inputs yield an explicitly empty array instead.
    */
  private def windows(upper: Column, make: Column => Column, elemType: String): Column =
    when(upper < 1, lit(Array.empty[String]).cast(s"array<$elemType>"))
      .otherwise(transform(sequence(lit(1), greatest(upper, lit(1))), make))

  /** w-token shingles joined by single spaces; empty for < w tokens. */
  def wordShingles(toks: Column, w: Int): Column =
    windows(size(toks) - (w - 1), i => array_join(slice(toks, i, lit(w)), " "), "string")

  /** Character n-grams of a string; empty for text shorter than n. */
  def charGrams(text: Column, n: Int): Column =
    windows(length(text) - (n - 1), i => substr(text, i, lit(n)), "string")

  /** LSH band keys: the signature cut into `bands` slices of `rows` values,
    * each slice joined into one string key. Two sets collide on a band iff
    * that slice matches exactly — the classic banding scheme.
    */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { j =>
      array_join(
        transform(slice(sig, j * rows + 1, rows), x => x.cast("string")), ",")
    }: _*)

  /** Jaccard similarity of two pre-distinct arrays, exact. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** True iff the session's registry has the graft native function — the
    * plan is BUILT before analysis, so fall back at build time rather than
    * failing analysis with "Undefined function" in sessions that never
    * registered GraftExtensions.
    *
    * Resolution falls back to the default session so worker threads that
    * never set an active session (e.g. Etl's table threads) still get
    * the native fast path, and the catalog lookup result is cached per
    * session (weakly, so a stopped session doesn't pin memory) — registries
    * are fixed after session construction, and the uncached lookup costs a
    * catalog round-trip per Column built.
    */
  private val nativeFnCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]]())

  private[graft] def hasNativeFunction(name: String): Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .exists { s =>
        val perSession = nativeFnCache.synchronized {
          var m = nativeFnCache.get(s)
          if (m == null) {
            m = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
            nativeFnCache.put(s, m)
          }
          m
        }
        perSession.computeIfAbsent(name, n => s.catalog.functionExists(n)).booleanValue()
      }

  /** Dot product in double precision with a defined (left-to-right) fold
    * order, so Spark and the oracle sum identical operands identically.
    * Resolves to the native codegen expression [[DotProductD]] when
    * [[graft.GraftExtensions]] is registered; falls back to the
    * bit-identical [[dotDFold]] formulation otherwise.
    */
  def dotD(a: Column, b: Column): Column =
    if (hasNativeFunction("graft_dot")) call_function("graft_dot", a, b)
    else dotDFold(a, b)

  /** Pre-promotion formulation of [[dotD]] — kept as the readable spec of
    * the semantics and for sessions without GraftExtensions.
    */
  def dotDFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dotD(a, a))

  /** Fixed-domain histogram of an `array<long>` of bin ids: position b of
    * the returned `array<int>` counts the elements equal to b (NULL and
    * out-of-range elements skipped). Resolves to the native one-pass
    * expression [[BinCounts]] when [[graft.GraftExtensions]] is
    * registered — the langid students' 64-bin feature map paid nBins
    * array passes per row through the fold formulation (r15 verdict #6);
    * falls back to [[binCountsFold]], the readable spec of the semantics
    * and the formulation the DuckDB oracle mirrors.
    */
  def binCounts(bins: Column, nBins: Int): Column = {
    require(nBins > 0, s"nBins=$nBins must be positive")
    if (hasNativeFunction("graft_bincounts"))
      call_function("graft_bincounts", bins, lit(nBins))
    else binCountsFold(bins, nBins)
  }

  /** Pre-promotion formulation of [[binCounts]] — one size(filter) pass
    * per bin, kept as the executable spec and for sessions without
    * GraftExtensions.
    */
  def binCountsFold(bins: Column, nBins: Int): Column =
    array((0 until nBins).map(b => size(filter(bins, v => v === b))): _*)

  /** Per-pattern substring-occurrence counts as `array<int>` (position i
    * = occurrences of `patterns(i)`, OVERLAPPING matches included — the
    * Aho–Corasick match set). Resolves to the native automaton expression
    * [[AhoCounts]] when [[graft.GraftExtensions]] is registered —
    * O(|text| + matches) per row regardless of pattern count, the
    * blocklist-scan scale path; falls back to a per-pattern position scan
    * (O(|text| · patterns), the readable spec of the semantics and the
    * formulation the DuckDB oracle mirrors).
    */
  def ahoCounts(text: Column, patterns: Seq[String]): Column = {
    requireBmpPatterns(patterns)
    if (hasNativeFunction("graft_aho"))
      call_function("graft_aho", text, typedlit(patterns))
    else ahoCountsFold(text, patterns)
  }

  /** Shared precondition of the two [[ahoCounts]] formulations: non-empty
    * BMP-only patterns. The native automaton matches UTF-16 code units
    * while the fold formulation slices by CODEPOINT (Spark's substr), so
    * an astral (non-BMP) pattern would make the two diverge — rejected
    * here rather than silently dispatching to different semantics.
    */
  private[graft] def requireBmpPatterns(patterns: Seq[String]): Unit = {
    require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
      "patterns must be non-empty strings")
    val astral = patterns.filter(p => p.codePointCount(0, p.length) != p.length)
    require(astral.isEmpty,
      s"patterns must be BMP-only (UTF-16 length == codepoint length); " +
        s"got astral pattern(s): ${astral.take(3).mkString(", ")}")
  }

  /** Pre-promotion formulation of [[ahoCounts]]: for each pattern, count
    * the start positions where the length-|p| slice equals it. Kept as
    * the executable spec and for sessions without GraftExtensions.
    */
  def ahoCountsFold(text: Column, patterns: Seq[String]): Column = {
    requireBmpPatterns(patterns)
    array(patterns.map { p =>
      when(length(text) >= p.length,
        size(filter(sequence(lit(1), length(text) - (p.length - 1)),
          i => text.substr(i, lit(p.length)) === p)))
        .otherwise(0)
    }: _*)
  }

  /** Every blocklist match as a (start, len) span — `array<struct<start:
    * int,len:int>>`, 1-based starts, overlapping/nested matches each
    * emitting their own span, sorted by (start, len). The ACTING sibling
    * of [[ahoCounts]]: [[graft.operators.Text.exciseSpans]] consumes the
    * spans to remove or redact the matched regions. Resolves to the
    * native automaton expression [[AhoSpans]] (one pass per row) when
    * [[graft.GraftExtensions]] is registered; falls back to the
    * per-pattern position scan, the readable spec the DuckDB oracle
    * mirrors.
    */
  def ahoSpans(text: Column, patterns: Seq[String]): Column = {
    requireBmpPatterns(patterns)
    if (hasNativeFunction("graft_aho_spans"))
      call_function("graft_aho_spans", text, typedlit(patterns))
    else ahoSpansFold(text, patterns)
  }

  /** Sanitize a CORPUS-DERIVED pattern list before it reaches the
    * automaton: [[requireBmpPatterns]] throws at plan-build time on
    * null/empty/astral patterns, which is right for a hand-written
    * blocklist but wrong for collected grams (an all-astral or too-short
    * corpus would abort the query where the oracle's position scan just
    * matches nothing). Drops the unusable entries; callers pair it with
    * [[ahoSpansSafe]]/[[ahoCountsSafe]] to tolerate the empty result.
    */
  def sanitizePatterns(patterns: Seq[String]): Seq[String] =
    patterns.filter(p => p != null && p.nonEmpty &&
      p.codePointCount(0, p.length) == p.length)

  /** [[ahoSpans]] tolerant of an EMPTY pattern list (a fresh or fully
    * excised blocklist): zero patterns mean zero matches, not an error.
    */
  def ahoSpansSafe(text: Column, patterns: Seq[String]): Column =
    if (patterns.isEmpty) array().cast("array<struct<start:int,len:int>>")
    else ahoSpans(text, patterns)

  /** [[ahoCounts]] tolerant of an EMPTY pattern list — an empty counts
    * array (no pattern positions), matching the per-pattern scan over
    * zero patterns.
    */
  def ahoCountsSafe(text: Column, patterns: Seq[String]): Column =
    if (patterns.isEmpty) array().cast("array<int>")
    else ahoCounts(text, patterns)

  /** Pre-promotion formulation of [[ahoSpans]]: per-pattern position
    * scan emitting (start, len) structs, sorted by (start, len) — the
    * executable spec of the span semantics.
    */
  def ahoSpansFold(text: Column, patterns: Seq[String]): Column = {
    requireBmpPatterns(patterns)
    // the short-text branch must be an EMPTY typed array, not NULL —
    // flatten propagates a null element to a null result
    val spanType = "array<struct<start:int,len:int>>"
    array_sort(flatten(array(patterns.map { p =>
      when(length(text) >= p.length,
        transform(
          filter(sequence(lit(1), length(text) - (p.length - 1)),
            i => text.substr(i, lit(p.length)) === p),
          i => struct(i.cast("int").as("start"), lit(p.length).as("len"))))
        .otherwise(array().cast(spanType))
    }: _*)))
  }

  def cosine(a: Column, b: Column): Column =
    dotD(a, b) / (l2Norm(a) * l2Norm(b))

  /** Driver-side h60 — same value as the Column version; used to precompute
    * small deterministic constants (e.g. LSH hyperplanes) that are then
    * embedded as literals / broadcast instead of recomputed per row.
    */
  def h60Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }
}
