package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-engine deterministic hashing / text primitives.
  *
  * Spark's native hash()/xxhash64() and DuckDB's hash() are different
  * algorithms, so any operator whose *output* depends on hash values
  * (minhash, simhash, LSH, fingerprints) builds on md5 instead: both
  * engines produce identical md5 hex for identical UTF-8 bytes, and 15
  * hex chars (60 bits) parse losslessly into a signed 64-bit int on
  * both sides. Every Column helper has a `Sql` twin rendering the same
  * computation as DuckDB SQL so oracle queries share one source of
  * truth (same constants, same formulas, same fold order).
  *
  * All of this is Spark-built-in expression composition — codegen'd,
  * no UDFs, fully distributed.
  */
object HashFns {

  /** 60-bit deterministic hash of a string column via md5 prefix —
    * the native one-pass kernel; semantics proven identical to the
    * composed `conv(substr(md5,1,15),16,10)` form in Hash64Spec.
    */
  def hash64(c: Column): Column = graft.expressions.Hash64.hash64(c)

  /** The original composed formulation, kept as the differential-test
    * reference for the native kernel.
    */
  def hash64Composed(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")
  def hash64Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Whitespace tokenization (documents.text is space-separated). */
  def tokens(c: Column): Column = split(c, " ")
  def tokensSql(e: String): String = s"string_split($e, ' ')"

  /** Adjacent token pairs ("w1 w2" bigrams, with multiplicity) built
    * from slices + arrays_zip instead of an element_at lambda (r17):
    * the lambda form indexes the token array per position, and when
    * `toks` is an UNBOUND split(text) expression (no projection
    * barrier below the consumer) each element_at re-tokenizes the
    * document — O(tokens²) per doc. The zip form references `toks`
    * only OUTSIDE the lambda (slice/size arguments), so it costs a
    * constant number of array evaluations per row with no barrier,
    * which also lets callers drop repartition-as-barrier corpus
    * shuffles and works inside streaming plans. Output is identical:
    * pairs in position order, size(toks)-1 entries, empty for 0/1
    * token docs.
    */
  def adjacentPairs(toks: Column): Column =
    when(size(toks) >= 2,
      transform(
        arrays_zip(slice(toks, lit(1), size(toks) - 1),
                   slice(toks, lit(2), size(toks) - 1)),
        p => concat_ws(" ", p.getField("0"), p.getField("1"))))
      .otherwise(array().cast("array<string>"))

  /** Word n-grams (shingles) of a token array, distinct.
    *
    * Built from n offset slices + arrays_zip instead of an element_at
    * lambda (the [[adjacentPairs]] zip form generalized to n): the
    * lambda form indexed the token array per (position, offset), and
    * when `toks` is an UNBOUND split(text) expression — which is what
    * every gate/dedup call site passes — each element_at re-tokenized
    * the document, O(n·tokens²) per doc. Measured on the sf0.1 corpus
    * (OPTIMIZATION_r18.md): the 8-gram set alone cost 4.2 s of a
    * single corpus pass vs 0.2 s for the tokenization itself. The
    * zip form references `toks` only outside the lambda, so it costs a
    * constant number of array evaluations per row. Output identical:
    * grams in position order, size-n+1 entries, empty for short docs
    * (the when-guard also keeps slice from seeing a negative length).
    */
  def shingles(toks: Column, n: Int): Column = {
    val m = size(toks) - (n - 1)
    val grams = transform(
      arrays_zip((0 until n).map(o => slice(toks, lit(o + 1), m)): _*),
      p => concat_ws(" ", (0 until n).map(o => p.getField(o.toString)): _*))
    array_distinct(when(size(toks) >= n, grams).otherwise(array()))
  }
  def shinglesSql(toksE: String, n: Int): String = {
    val parts = (0 until n).map(o => s"($toksE)[i + $o]").mkString(" || ' ' || ")
    s"list_distinct(CASE WHEN len($toksE) >= $n THEN " +
      s"list_transform(range(1, len($toksE) - ${n - 2}), i -> $parts) ELSE [] END)"
  }

  // ---- MinHash ----------------------------------------------------
  /** Mersenne prime 2^31-1: keeps a*h+b inside 63 bits. */
  val MinhashP: Long = 2147483647L
  val MinhashK: Int = 16

  /** Seeded affine permutation constants, inlined identically into the
    * Spark plan and the SQL twin.
    */
  val minhashA: IndexedSeq[Long] =
    (0 until MinhashK).map(k => ((2L * k + 1) * 2654435761L) % MinhashP)
  val minhashB: IndexedSeq[Long] =
    (0 until MinhashK).map(k => (k * 40503L * 65537L + 17L) % MinhashP)

  /** MinHash signature (array<long> of length K) of a shingle array.
    * Hashes every shingle K times — prefer minhashSigFromHashes over a
    * pre-hashed set in hot paths (md5 once, not K times, per shingle).
    */
  def minhashSig(sh: Column): Column =
    minhashSigFromHashes(transform(sh, x => hash64(x)))

  /** Signature from pre-hashed shingles (array<long>): pure arithmetic
    * per permutation, no re-hashing.
    */
  def minhashSigFromHashes(shH: Column): Column = {
    val sigs = (0 until MinhashK).map { k =>
      array_min(transform(shH,
        h => (lit(minhashA(k)) * (h % MinhashP) + minhashB(k)) % MinhashP))
    }
    array(sigs: _*)
  }
  def minhashSigFromHashesSql(shHE: String): String = {
    val sigs = (0 until MinhashK).map { k =>
      s"list_min(list_transform($shHE, h -> " +
        s"(${minhashA(k)} * (h % $MinhashP) + ${minhashB(k)}) % $MinhashP))"
    }
    sigs.mkString("[", ", ", "]")
  }

  /** Distinct hashed shingle set (the dedup ops' working currency:
    * longs shuffle and intersect far cheaper than n-gram strings, and
    * both engines hash identically so set arithmetic agrees even in
    * the collision case).
    */
  def hashedShingles(sh: Column): Column =
    array_distinct(transform(sh, x => hash64(x)))
  def hashedShinglesSql(shE: String): String =
    s"list_distinct(list_transform($shE, x -> ${hash64Sql("x")}))"

  /** LSH band key: polynomial combination of `rowsPerBand` consecutive
    * signature entries (sig values < 2^31 so 31-bit shifts stay in 63
    * bits for rowsPerBand=4... we fold with *31+x which is far smaller).
    */
  val MinhashBands: Int = 4
  val MinhashRows: Int = 4 // MinhashBands * MinhashRows == MinhashK

  def bandKey(sig: Column, band: Int): Column =
    (0 until MinhashRows).map(r => element_at(sig, band * MinhashRows + r + 1))
      .foldLeft(lit(7L): Column)((acc, x) => acc * 31 + x)
  def bandKeySql(sigE: String, band: Int): String =
    (0 until MinhashRows).map(r => s"$sigE[${band * MinhashRows + r + 1}]")
      .foldLeft("CAST(7 AS BIGINT)")((acc, x) => s"($acc * 31 + $x)")

  // ---- hot-bucket bound for (band, key) pair joins -----------------
  /** Per-(band, key) membership cap on the SMALLER-ID / INDEX side of
    * every banded pair join — the guard against the one quadratic
    * shape LSH banding admits at web scale: a near-identical template
    * cluster (exact dedup removes only byte-identical copies) lands
    * its m members in ONE bucket, and an uncapped self-join emits
    * O(m²) candidate pairs from it. The rule: the side of the join
    * that contributes the smaller doc_id (or the corpus/index side of
    * a delta-probes-index join) is truncated to its bucket's
    * BandBucketCap lowest doc_ids — a deterministic spill rule, so
    * both engines and any re-run agree exactly. Pairs per bucket are
    * then <= cap * m (linear in m), while every member still pairs
    * with the bucket's minimum id, so connected-components consumers
    * (q58, q146) see the same clusters for genuinely-near-identical
    * groups: member→rep edges survive rescore precisely when the
    * cluster is real. Natural corpora never hit the cap (measured
    * fixture max bucket size is 4 at sf0.001/0.01/0.1, so all
    * fixture-scale outputs are bit-identical to the uncapped rule);
    * only adversarial/template skew does, and there it bounds, not
    * loses, the work. Mirrored exactly by [[capBandedSql]].
    */
  val BandBucketCap: Int = 16

  /** Truncate a banded relation (any relation with `band`, `key`,
    * `doc_id` columns; extra columns ride along) to the BandBucketCap
    * lowest doc_ids per (band, key) bucket. One window over the same
    * (band, key) hash partitioning the downstream pair join shuffles
    * on anyway — the window's exchange+sort is reused by the
    * sort-merge join, so the cap adds no extra shuffle.
    */
  def capBanded(banded: DataFrame): DataFrame = {
    val w = Window.partitionBy("band", "key").orderBy("doc_id")
    banded.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= BandBucketCap)
      .drop("__rk")
  }

  /** DuckDB twin of [[capBanded]]: same rank, same cap, all columns
    * preserved (QUALIFY keeps the projection untouched).
    */
  def capBandedSql(src: String): String =
    s"""SELECT * FROM $src
       | QUALIFY row_number() OVER (PARTITION BY band, key ORDER BY doc_id)
       |   <= $BandBucketCap""".stripMargin

  /** [[capBanded]] restricted to the buckets a probe relation can
    * actually touch: a broadcast LEFT SEMI prefilter on (band, key)
    * runs BEFORE the rank window, so the cap's exchange+sort carries
    * only the probed buckets instead of the whole index (r17: the
    * first cut capped the FULL corpus/base side of every
    * delta-probes-index join, turning a batch-proportional probe into
    * a corpus-proportional shuffle — guide §3.2's pre-filter shape
    * restores the asymmetry). Results are IDENTICAL to
    * capBanded(banded) followed by the (band, key) equi-join with
    * `probe`: the semi-join keeps every member of a surviving bucket,
    * so per-bucket ranks are unchanged, and dropped buckets match no
    * probe row anyway.
    *
    * `boundedProbe` picks the semi-join strategy (r17 ADVICE, medium):
    *  - true (default): explicit broadcast of the probe's distinct
    *    (band, key) set. ONLY for probes that are genuinely bounded
    *    ingest batches (q215/q217/streaming micro-batches) — there the
    *    key set is <= |batch| * bands rows, the standard
    *    broadcast-dictionary size at any corpus size.
    *  - false: no hint — the planner/AQE decides from (runtime) sizes.
    *    For probes that are a FIXED FRACTION of the corpus (q137/q148:
    *    the doc_id % 5 == 4 slice, 20 % of the corpus), an explicit
    *    hint bypasses autoBroadcastJoinThreshold and the broadcast
    *    grows linearly with corpus size — a guaranteed driver OOM at
    *    web scale. Unhinted, the semi-join becomes a shuffle join
    *    whose (band, key) exchange the cap's rank window reuses (same
    *    keys), so the corpus side still pays exactly one exchange; at
    *    fixture scale AQE still converts it to broadcast from the
    *    probe's REAL byte size, so local plans are unchanged in
    *    practice. Output identical either way — only the join
    *    strategy is at stake.
    */
  def capBandedFor(banded: DataFrame, probe: DataFrame,
                   boundedProbe: Boolean = true): DataFrame = {
    val keys = probe.select("band", "key").distinct()
    capBanded(banded.join(
      if (boundedProbe) broadcast(keys) else keys,
      Seq("band", "key"), "left_semi"))
  }

  // ---- SimHash ----------------------------------------------------
  /** 32-bit SimHash over token hashes (term-frequency weighted).
    * `hashes` is array<long> of per-token hash64 values.
    */
  val SimhashBits: Int = 32

  def simhash(hashes: Column): Column = {
    val bits = (0 until SimhashBits).map { b =>
      val contrib = aggregate(hashes, lit(0L),
        (acc, h) => acc + (shiftright(h, b) % 2) * 2 - 1)
      when(contrib > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }
  def simhashSql(hashesE: String): String = {
    val bits = (0 until SimhashBits).map { b =>
      val contrib = s"list_sum(list_transform($hashesE, h -> ((h >> $b) & 1) * 2 - 1))"
      s"(CASE WHEN $contrib > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
    }
    bits.mkString("(", " + ", ")")
  }

  /** 8-bit chunk of a 32-bit simhash — 4 chunks; pigeonhole guarantees
    * any pair with hamming distance <= 3 shares at least one chunk, so
    * a union of 4 equi-joins on chunks finds exactly the hd<=3 pairs
    * without a cross join.
    */
  def simhashChunk(sh: Column, chunk: Int): Column =
    shiftright(sh, chunk * 8) % 256

  // ---- Rolling polynomial fingerprint -----------------------------
  val FpMod: Long = 1000000007L

  /** Polynomial rolling hash over the characters of a string:
    * fold(acc*31 + code(char)) mod 1e9+7, left-to-right — identical
    * fold order in Spark `aggregate` and DuckDB `list_reduce`.
    * Empty strings are pinned to 0 on both sides: the engines disagree
    * on the code of an empty split cell (Spark ascii('')=0, DuckDB
    * unicode('')=-1), so the fold must never see one.
    */
  def polyFingerprint(c: Column): Column =
    when(length(c) === 0, lit(0L)).otherwise(
      aggregate(split(c, ""), lit(0L), (acc, ch) => (acc * 31 + ascii(ch)) % FpMod))
  def polyFingerprintSql(e: String): String =
    s"CASE WHEN length($e) = 0 THEN CAST(0 AS BIGINT) ELSE " +
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), ch -> CAST(unicode(ch) AS BIGINT))), " +
      s"(acc, c) -> (acc * 31 + c) % $FpMod) END"
}
