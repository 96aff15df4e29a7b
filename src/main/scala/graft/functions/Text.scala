package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis building blocks for training-data pipelines
  * (SURVEY.md §2.C): tokenization, shingling, hashing families for
  * near-dup detection, language scoring, quality metrics. All are
  * `Column -> Column` over Spark built-ins / higher-order array
  * functions — map-only, shuffle-free, no UDFs.
  */
object Text {

  /** Whitespace tokenization; the SQL twin is
    * `regexp_split_to_array(trim(x), '\s+')`.
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** "BPE-ish" token pieces: letter runs, digit runs, single symbols.
    * Counted by the [[graft.plans.MatchCountExpr]] kernel — the same
    * compiled Pattern and find() loop as size(regexp_extract_all(...)),
    * minus materializing every matched piece into an array first (for
    * this pattern the match array IS the document, re-allocated).
    * Spark's own `regexp_count` was tried and is NOT this: it is
    * RuntimeReplaceable to Size(RegExpExtractAll(...)) — the identical
    * execution.
    */
  val bpePattern = "[A-Za-z]+|[0-9]+|\\S"
  def bpeTokenCount(text: Column): Column =
    graft.plans.MatchCountExpr(text, bpePattern)

  /** Distinct k-word shingles. Empty array when the doc is shorter than k
    * (Spark's `sequence(0, n)` counts *down* for negative n, so the guard
    * is required, not cosmetic). The token array is bound as a lambda
    * variable (a transform over a single-element array) so it is
    * evaluated once per row: higher-order functions are interpreted with
    * no common-subexpression elimination, so when `toks` is a computed
    * expression like split(), a direct reference inside the slice lambda
    * re-inlines and re-evaluates it once per shingle.
    */
  def shingles(toks: Column, k: Int): Column =
    element_at(transform(array(toks), tk =>
      when(size(tk) >= k,
        array_distinct(transform(sequence(lit(0), size(tk) - k),
          i => concat_ws(" ", slice(tk, i + 1, lit(k))))))
        .otherwise(array().cast("array<string>"))), 1)

  /** ALL k-word shingles IN ORDER (no distinct): element i+1 is the
    * shingle starting at 0-based token position i, so `posexplode` over
    * the result recovers (position, shingle) pairs — the unit run-merging
    * operators (d19) need, where [[shingles]]'s set semantics would lose
    * both duplicates and positions. Same lambda-binding and short-doc
    * guard as [[shingles]].
    */
  def shinglesAt(toks: Column, k: Int): Column =
    element_at(transform(array(toks), tk =>
      when(size(tk) >= k,
        transform(sequence(lit(0), size(tk) - k),
          i => concat_ws(" ", slice(tk, i + 1, lit(k)))))
        .otherwise(array().cast("array<string>"))), 1)

  /** Portable 60-bit integer hash: the first 15 hex chars of md5, read
    * base-16. Bit-identical across engines — DuckDB replays it as
    * `CAST(('0x' || substr(md5(x),1,15)) AS BIGINT)` — so the correctness
    * gate can hash-compare minhash/simhash results. It is the one hash
    * the near-dup and sampling operators key shingles, tokens and ids on
    * (the fused kernels [[graft.plans.ShingleMd5Expr]] and
    * [[graft.plans.WinnowingFpExpr]] compute it bit-exactly).
    */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DuckDB twin of [[md5Long]]. */
  def md5LongSql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  // --- MinHash ---------------------------------------------------------

  /** Deterministic 31-bit multiply-add parameters from a splitmix-style
    * mix of the permutation index — reproducible across sessions with no
    * RNG state.
    */
  private def mix(i: Long): Long = {
    var z = i + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)) & 0x7fffffffL
  }

  val minhashPrime = 2147483647L // 2^31 - 1

  /** (a_i, b_i) multiply-add parameters for permutation i (a forced odd). */
  def minhashParams(k: Int): Seq[(Long, Long)] =
    (0 until k).map(i => (mix(2L * i) | 1L, mix(2L * i + 1)))

  /** MinHash signature: array of `k` minima of (a_i·h(s)+b_i) mod p over
    * the shingle set, h(s) = xxhash64 folded to 31 bits.
    *
    * NOTE: this row-local form is for small/one-shot use. In an operator
    * pipeline, downstream references re-inline the whole expression tree
    * (Catalyst collapses projections), recomputing the signature per
    * band/pair — use the explode→groupBy(min) form in
    * `Dedup.minhashCandidates`, where the signature becomes a
    * materialized attribute after the aggregation.
    */
  def minhashSignature(shingleCol: Column, k: Int): Column = {
    val base = transform(shingleCol, s => pmod(xxhash64(s), lit(minhashPrime)))
    val sigs = minhashParams(k).map { case (a, b) =>
      array_min(transform(base, h => pmod(h * a + b, lit(minhashPrime))))
    }
    array(sigs: _*)
  }

  /** LSH band keys for a signature: `bands` keys, each hashing `rowsPerBand`
    * consecutive signature components together with the band index (so
    * buckets from different bands never collide).
    */
  def minhashBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b), concat_ws(",",
        transform(slice(sig, b * rowsPerBand + 1, rowsPerBand), _.cast("string"))))
    }: _*)

  // --- SimHash ---------------------------------------------------------

  /** Hamming distance between two simhash longs. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // --- Language / quality ---------------------------------------------

  /** Per-language stopword markers for the n-gram heuristic. Word-boundary
    * regex counts are cheap, codegen'd, and portable to the oracle.
    */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|a)\\b",
    "es" -> "\\b(el|la|de|los|que)\\b",
    "de" -> "\\b(der|die|das|und|ist)\\b",
    "fr" -> "\\b(le|les|des|est|une)\\b",
    // \x{...} escapes parse identically in Java regex and RE2 (DuckDB);
    // \uXXXX would not.
    "zh" -> "[\\x{4e00}-\\x{9fff}]")

  def langScore(text: Column, pattern: String): Column =
    size(regexp_extract_all(lower(text), lit(pattern), lit(0)))

  /** argmax over marker scores, ties broken by catalog order.
    *
    * Shape note (round-17 A/B, kept declarative): a fused single-scan
    * combined-alternation kernel (one regex pass + int[5] counts instead
    * of five regexp_extract_all scans) was built, parity-pinned, and
    * measured at sf0.1 — p4 (which plans this subtree ~6×) was flat
    * (+2%) and p1/t2 regressed 25-107%: the combined alternation tries
    * every branch per position (≈ the same total regex work as five
    * separate scans), the CodegenFallback eval splits the surrounding
    * whole-stage-codegen'd projection, and in t2 the declarative form's
    * five scans are CSE-shared with the emitted s_<lang> columns, which
    * the kernel cannot reuse. Measured, reverted.
    */
  def langPredict(text: Column): Column = {
    val scored = langMarkers.map { case (l, p) => (l, langScore(text, p)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("und")) { case ((l, s), rest) =>
      when(s === best && s > 0, lit(l)).otherwise(rest)
    }
  }

  val punctPattern = "[.,;:!?'\"()\\-]"
  val stopwordPattern = "\\b(the|a|of|and|to|in)\\b"

  /** Composite quality score in [0,1]: length saturation, punctuation
    * sanity, stopword presence — the standard cheap pre-filter shape for
    * LLM corpus curation.
    */
  def qualityScore(text: Column): Column = {
    val n = length(text).cast("double")
    val toks = size(tokens(text)).cast("double")
    val punct = (length(text) - length(regexp_replace(text, punctPattern, ""))).cast("double")
    val stops = size(regexp_extract_all(lower(text), lit(stopwordPattern), lit(0))).cast("double")
    val lenScore = least(lit(1.0), toks / 100.0)
    val punctScore = lit(1.0) - least(lit(1.0), punct / greatest(n, lit(1.0)) * 10.0)
    val stopScore = least(lit(1.0), stops / greatest(toks, lit(1.0)) * 5.0)
    graft.Det.qz(lenScore * 0.3 + punctScore * 0.4 + stopScore * 0.3)
  }

  /** Position-weighted rolling fingerprint:
    * sum over tokens of (pos+1)·(31·len + ascii(first) + ascii(last)),
    * mod 1e9+7. Pure integer math — exact in any engine.
    */
  val fingerprintMod = 1000000007L
  def fingerprint(toks: Column): Column =
    pmod(aggregate(
      transform(toks, (t, i) =>
        (i + 1).cast("long") *
          (length(t).cast("long") * 31L + ascii(substring(t, 1, 1)).cast("long") +
            ascii(substring(t, -1, 1)).cast("long"))),
      lit(0L), (acc, x) => acc + x), lit(fingerprintMod))

  // --- PII redaction ----------------------------------------------------

  /** PII patterns shared verbatim with the SQL oracle — every construct
    * used (classes, \d, \b, {m,n}) parses and matches identically in Java
    * regex (Spark) and RE2 (DuckDB).
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact emails, then phone numbers, then IPv4 addresses (the order is
    * part of the contract: counts are taken on the ORIGINAL text, the
    * replacements run sequentially). Map-only, codegen'd — the shape that
    * sweeps a 100 TB corpus in one scan.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "[EMAIL]"),
        phonePattern, "[PHONE]"),
      ipv4Pattern, "[IP]")

  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> size(regexp_extract_all(text, lit(emailPattern), lit(0))),
    "n_phones" -> size(regexp_extract_all(text, lit(phonePattern), lit(0))),
    "n_ips" -> size(regexp_extract_all(text, lit(ipv4Pattern), lit(0))))

  // --- URL canonicalization --------------------------------------------

  /** Canonical URL form for web-corpus dedup: lowercase scheme and host,
    * default ports (:80 http / :443 https) stripped, fragment dropped,
    * trailing path slashes removed, tracking params (utm_*, gclid,
    * fbclid) dropped and the surviving query params sorted. Pure
    * regexp/array built-ins — codegen'd, map-only, and the pattern
    * subset (no backrefs/lookahead) evaluates identically under Java
    * regex and RE2-based engines.
    */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val hostNoPort = when(scheme === "http", regexp_replace(host, ":80$", ""))
      .when(scheme === "https", regexp_replace(host, ":443$", ""))
      .otherwise(host)
    val path = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val pathNorm = regexp_replace(path, "/+$", "")
    val query = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val kept = array_join(array_sort(filter(split(query, "&"),
      p => !p.rlike("^(utm_[^=]*|gclid|fbclid)="))), "&")
    // Unparseable input (no scheme://) passes through UNCHANGED: every
    // extract would return '' and all such URLs would collapse to one
    // canonical '://' group — false duplicate merges on dirty corpora.
    when(scheme === "", u).otherwise(
      concat(scheme, lit("://"), hostNoPort, pathNorm,
        when(kept === "", lit("")).otherwise(concat(lit("?"), kept))))
  }

  /** SQL twin of [[canonicalUrl]] over a URL expression string. */
  def canonicalUrlSql(u: String): String = {
    val noFrag = s"regexp_replace(($u), '#.*', '')"
    val scheme = s"lower(regexp_extract($noFrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    val host = s"lower(regexp_extract($noFrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))"
    val hostNoPort = s"(CASE WHEN $scheme = 'http' THEN regexp_replace($host, ':80$$', '')" +
      s" WHEN $scheme = 'https' THEN regexp_replace($host, ':443$$', '') ELSE $host END)"
    val path = s"regexp_extract($noFrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)"
    val pathNorm = s"regexp_replace($path, '/+$$', '')"
    val query = s"regexp_extract($noFrag, '\\?([^#]*)', 1)"
    val kept = s"array_to_string(list_sort(list_filter(string_split($query, '&')," +
      s" p -> NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid)='))), '&')"
    s"(CASE WHEN $scheme = '' THEN ($u) ELSE " +
      s"concat($scheme, '://', $hostNoPort, $pathNorm," +
      s" CASE WHEN $kept = '' THEN '' ELSE concat('?', $kept) END) END)"
  }

  // --- Vectors ---------------------------------------------------------

  val VecDec = DecimalType(38, 18)

  /** Exact (order-insensitive) dot product: per-element double products —
    * bit-deterministic — summed in decimal so partitioning can't change
    * the result.
    */
  def dotExact(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast(VecDec)),
      lit(java.math.BigDecimal.ZERO).cast(VecDec), (acc, x) => (acc + x).cast(VecDec))

  def norm2Exact(a: Column): Column =
    aggregate(transform(a, x => (x.cast("double") * x.cast("double")).cast(VecDec)),
      lit(java.math.BigDecimal.ZERO).cast(VecDec), (acc, x) => (acc + x).cast(VecDec))

  /** Cosine similarity, quantized — ranking downstream must order by this
    * quantized value (+ id tiebreak) so every engine agrees.
    */
  def cosine(a: Column, b: Column, scale: Int = 6): Column =
    graft.Det.qz(dotExact(a, b).cast("double") /
      (sqrt(norm2Exact(a).cast("double")) * sqrt(norm2Exact(b).cast("double"))), scale)

  /** Double-fold dot product, written in exactly the HOF shape that
    * `graft.plans.RewriteHofDotProduct` rewrites to the codegen'd native
    * expression — declarative call sites, native hot loop.
    */
  def dotFast(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Fast-path cosine for non-oracle scoring (ANN): bit-equal to a
    * sequential double fold, ~last-ulp different from [[cosine]]'s
    * decimal sums.
    */
  def cosineFast(a: Column, b: Column, scale: Int = 6): Column =
    graft.Det.qz(dotFast(a, b) / (sqrt(dotFast(a, a)) * sqrt(dotFast(b, b))), scale)
}
