package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline building blocks (SURVEY.md §2.11): tokenization, shingling,
  * MinHash signatures, simhash bits — all pure Column expressions (codegen'd,
  * shuffle-free per row), designed so the *identical* logic is expressible
  * in ANSI SQL for the DuckDB oracle:
  *
  *   - hash family h_i(s) = md5(concat("<i>|", s)): md5 produces the same
  *     lowercase hex in both engines, and the min over a shingle set under
  *     lexicographic order is a valid MinHash (a fixed pseudo-random
  *     permutation of the shingle space per seed).
  *   - simhash bits come from hex-digit arithmetic on md5(token) — instr /
  *     shift / mask expressions shared verbatim with the oracle SQL.
  *
  * At 100 TB these are embarrassingly parallel scan-side expressions; the
  * only shuffles in the dedup pipelines built from them are the band-bucket
  * groupBys, which partition by band hash (uniform by construction).
  */
object TextFunctions {

  private def bridge = org.apache.spark.sql.GraftBridge

  /** Native generator: text → (pos, gram) rows of positional char
    * k-grams (see [[PosCharGrams]]). Use in a select like explode:
    * `df.select(col("lang"), posCharGrams(col("text"), 3).as(Seq("pos", "gram")))`. */
  def posCharGrams(text: Column, k: Int): Column =
    bridge.column(PosCharGrams(bridge.expression(text), k))

  /** Whitespace tokenization (documents.text is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles: n consecutive tokens joined by a space.
    * slice+array_join builds each shingle in one array op — measured ~3×
    * faster than the per-position element_at/concat_ws form it replaces
    * (r12; the shingle build dominated q374's wall time). Same strings:
    * array_join skips nothing here (split() never yields null elements).
    * The when() guard stays: sequence(0, negative) would generate a
    * DESCENDING index list, not an empty one. */
  def shingles(toks: Column, n: Int = 3): Column = {
    val idxs = sequence(lit(0), size(toks) - n)
    val joined =
      transform(idxs, i => array_join(slice(toks, i + 1, lit(n)), " "))
    when(size(toks) >= n, joined).otherwise(array().cast("array<string>"))
  }

  /** One MinHash signature component: min_{s in shingles} md5(seed|s). */
  def minhash(shingleCol: Column, seed: Int): Column =
    array_min(transform(shingleCol, s => md5(concat(lit(s"$seed|"), s))))

  /** Cheaper k-signature family: hash each shingle ONCE with md5, then
    * derive component i as the min under a rotate-left-by-4i-hex-chars
    * reordering — each rotation is a distinct bijection of the 128-bit
    * space, so the min under its lexicographic order is a valid MinHash
    * permutation. k× fewer md5 calls than the seeded family; used by the
    * LSH pipeline (q36). Shared verbatim with the oracle SQL. */
  def md5Array(shingleCol: Column): Column =
    transform(shingleCol, s => md5(s))

  /** Fused tokens → distinct word n-gram shingles → md5 array (native
    * expression; ≡ md5Array(array_distinct(shingles(toks, n))), see
    * Md5Shingles). */
  def md5Shingles(toks: Column, n: Int): Column = {
    val b = org.apache.spark.sql.GraftBridge
    b.column(Md5Shingles(b.expression(toks), n))
  }

  /** Distinct word n-gram shingle SET (native single-pass expression;
    * ≡ array_distinct(shingles(toks, n)), see WordShingleSet).
    *
    * NULL contract (ADVICE r12): the composed form this wrapper replaced
    * — `when(size(toks) >= n, ...).otherwise(array())` — returned an
    * EMPTY array for NULL tokens (size(null) is null, falling to the
    * otherwise branch), whereas the raw UnaryExpression is null-safe and
    * returns NULL. The coalesce preserves the original call-site
    * contract, so a null text row keeps sset = [] and Jaccard
    * denominators are unchanged. The bare SQL-registered
    * `word_shingle_set` keeps standard expression NULL-in-NULL-out
    * semantics; this Column wrapper is the dedup call sites' API. */
  def shingleSet(toks: Column, n: Int = 3): Column = {
    val b = org.apache.spark.sql.GraftBridge
    org.apache.spark.sql.functions.coalesce(
      b.column(WordShingleSet(b.expression(toks), n)),
      org.apache.spark.sql.functions.typedLit(Array.empty[String]))
  }

  /** Unicode NFC canonicalization (native expression, codegen'd; see
    * NfcNormalize). */
  def nfc(text: Column): Column = {
    val b = org.apache.spark.sql.GraftBridge
    b.column(NfcNormalize(b.expression(text)))
  }

  /** Fused text → md5 array of char k-grams in position order (native
    * expression; ≡ transform(sequence(1, length-k+1), i → md5(substr(text,
    * i, k))), see CharGramsMd5). */
  def charGramsMd5(text: Column, k: Int): Column = {
    val b = org.apache.spark.sql.GraftBridge
    b.column(CharGramsMd5(b.expression(text), k))
  }

  /** Fused block-difference hash (native expression; ≡ the q137
    * 49-digest transform + comparison fold, see BlockDHash). */
  def blockDHash(text: Column, blocks: Int, bits: Int): Column = {
    val b = org.apache.spark.sql.GraftBridge
    b.column(BlockDHash(b.expression(text), blocks, bits))
  }

  /** Whole-document simhash, scan-side (native expression; ≡ the
    * explode → per-bit majority pipeline, see SimhashBits). */
  def simhashOf(toks: Column, bits: Int): Column = {
    val b = org.apache.spark.sql.GraftBridge
    b.column(SimhashBits(b.expression(toks), bits))
  }

  /** |a ∩ b| for SORTED duplicate-free string arrays (native two-pointer
    * merge; ≡ size(array_intersect(a, b)), see SortedIntersectCount). */
  def sortedIntersectCount(a: Column, b: Column): Column = {
    val br = org.apache.spark.sql.GraftBridge
    br.column(SortedIntersectCount(br.expression(a), br.expression(b)))
  }

  /** Sliding-window minimum (native expression; ≡ transform(sequence(1,
    * n-w+1), j → array_min(slice(a, j, w))), see SlidingMins). */
  def slidingMins(a: Column, w: Int): Column = {
    val br = org.apache.spark.sql.GraftBridge
    br.column(SlidingMins(br.expression(a), w))
  }

  def winnowedTokenFingerprints(tokens: Column, k: Int, w: Int): Column = {
    val br = org.apache.spark.sql.GraftBridge
    br.column(WinnowedTokenFingerprints(br.expression(tokens), k, w))
  }

  /** Jaro–Winkler similarity (native codegen'd expression, pinned to
    * DuckDB's jaro_winkler_similarity semantics — see JaroWinkler). */
  def jaroWinkler(a: Column, b: Column): Column = {
    val br = org.apache.spark.sql.GraftBridge
    br.column(JaroWinkler(br.expression(a), br.expression(b)))
  }

  /** Damerau–Levenshtein distance (native codegen'd expression, full
    * Lowrance–Wagner variant pinned to DuckDB's damerau_levenshtein
    * byte-level semantics — see DamerauLevenshtein). */
  def damerauLevenshtein(a: Column, b: Column): Column = {
    val br = org.apache.spark.sql.GraftBridge
    br.column(DamerauLevenshtein(br.expression(a), br.expression(b)))
  }

  def minhashRot(md5Col: Column, i: Int): Column =
    if (i == 0) array_min(md5Col)
    else array_min(transform(md5Col, h =>
      concat(substring(h, 4 * i + 1, 32 - 4 * i), substring(h, 1, 4 * i))))

  def minhashRotSql(md5Expr: String, i: Int): String =
    if (i == 0) s"list_min($md5Expr)"
    else s"list_min(list_transform($md5Expr, h -> substr(h, ${4 * i + 1}) || substr(h, 1, ${4 * i})))"

  /** Shared simhash bit arithmetic: bit j of a token's hash, taken from
    * md5 hex digit j/4 (1-based substr), low-to-high within the digit.
    * The returned SQL string is valid in BOTH Spark SQL and DuckDB.
    * `hashExpr` should be a PRE-COMPUTED md5 column/CTE field — referencing
    * an attribute (not md5(tok) inline) guarantees one hash per token
    * rather than one per bit, independent of codegen subexpression
    * elimination. */
  def simhashBitSql(hashExpr: String, j: Int): String = {
    val pos = j / 4 + 1
    val sh = j % 4
    s"(((instr('0123456789abcdef', substr($hashExpr, $pos, 1)) - 1) >> $sh) & 1)"
  }

  /** Native Column form of [[hexSpanValSql]] (see HexSpanVal): one
    * codegen'd span walk instead of `len` instr∘substr expressions.
    * Spark-side only — oracles keep the portable SQL macro. */
  def hexSpanVal(hash: Column, from: Int, len: Int): Column = {
    val b = org.apache.spark.sql.GraftBridge
    b.column(HexSpanVal(b.expression(hash), from, len))
  }

  /** Value (0–15) of md5 hex digit `pos` (1-based) — shared SQL. */
  def hexDigitValSql(hashExpr: String, pos: Int): String =
    s"(instr('0123456789abcdef', substr($hashExpr, $pos, 1)) - 1)"

  /** Unsigned value of hex digits [from, from+len) (0-based) as a
    * place-value sum — valid in BOTH Spark SQL and DuckDB (len ≤ 15 keeps
    * the value below 2^63). The portable "parse a hash prefix as an
    * integer" primitive behind deterministic bucketing/splits and the
    * multimodal stub codec. */
  def hexSpanValSql(hashExpr: String, from: Int, len: Int): String = {
    require(len >= 1 && len <= 15, s"hex span must be 1..15 digits, got $len")
    (0 until len).map { j =>
      val weight = 1L << (4 * (len - 1 - j))
      // CAST keeps the multiply in BIGINT: a weight that renders below
      // 2^31 parses as INT, and digit(≤15) × 2^28 already overflows int
      // under ANSI mode
      s"${hexDigitValSql(hashExpr, from + j + 1)} * CAST($weight AS BIGINT)"
    }.mkString("(", " + ", ")")
  }

  /** Nibble packing for simhash bit sums: spread a digit's 4 bits into
    * 16-bit lanes of one BIGINT, so ONE sum carries 4 per-bit population
    * counts — 4× fewer instr/substr evaluations than per-bit ±1 sums, and
    * the string work happens once per digit in a projection. Lane b of
    * the group sum = count of rows with bit b set. Valid while a group
    * has ≤ 32767 rows (keeps the top lane below 2^63) — chunk longer
    * documents upstream. Shared SQL over a pre-extracted digit-value
    * attribute. */
  def packedBitLanesSql(vExpr: String): String =
    s"(($vExpr & 1) + (($vExpr >> 1) & 1) * 65536 + " +
      s"(($vExpr >> 2) & 1) * 4294967296 + " +
      s"(($vExpr >> 3) & 1) * 281474976710656)"

  /** Simhash bit j from packed lane sums ps{0..} and row count n:
    * majority ⟺ 2·popcount ≥ n (identical to sign(Σ±1) ≥ 0). */
  def simhashBitFromLanesSql(j: Int): String =
    s"(CASE WHEN 2 * ((ps${j / 4} >> ${16 * (j % 4)}) & 65535) >= n THEN 1 ELSE 0 END)"
}
