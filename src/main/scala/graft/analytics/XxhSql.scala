package graft.analytics

/** DuckDB-SQL replay of Spark's `xxhash64` (Yann Collet's public
  * XXH64 algorithm — github.com/Cyan4973/xxHash spec — at Spark's
  * fixed seed 42) for SHORT ASCII strings (< 32 bytes — only the tail
  * path) and the two-arg `xxhash64(string, int)` chain (the int is
  * hashed through XXH64's 4-byte finalizer with the string's hash as
  * seed — pinned empirically against Spark's own xxhash64, all
  * tokens exact).
  *
  * This closes the "engine-hash placements no SQL engine reproduces"
  * oracle class for BOUNDED-vocabulary relations: 64-bit wraparound
  * multiplication is spelled as 32-bit limb products in HUGEINT (a
  * full 64×64 product overflows INT128), rotations as shift-add (the
  * two halves cannot overlap), and Spark's signed `pmod(h, width)`
  * equals unsigned `h % width` whenever width divides 2^64 — so the
  * whole CountMin placement chain is pure SQL arithmetic. Cost is
  * O(distinct tokens), fixture-bounded; at corpus vocabulary scale
  * this oracle is not the tool — the sketch suites are.
  */
object XxhSql {

  private val M = "18446744073709551616" // 2^64
  private val M32 = "4294967296"
  private val P1 = "11400714785074694791"
  private val P2 = "14029467366897019727"
  private val P3 = "1609587929392839161"
  private val P4 = "9650029242287828579"
  private val P5 = "2870177450012600261"

  /** (a·b) mod 2^64 via 32-bit limbs; intermediates < 2^66 in HUGEINT. */
  private def mul(a: String, b: String): String =
    s"""CAST(((CAST(($a) % $M32 AS HUGEINT) * (($b) % $M32))
       | + ((CAST(($a) % $M32 AS HUGEINT) * (($b) >> 32)
       |     + CAST(($a) >> 32 AS HUGEINT) * (($b) % $M32)) % $M32) * $M32)
       | % $M AS UBIGINT)""".stripMargin.replace("\n", " ")

  private def add(a: String, b: String): String =
    s"CAST((CAST($a AS HUGEINT) + CAST($b AS HUGEINT)) % $M AS UBIGINT)"

  /** Left-rotate: the shifted-out high bits land in the low bits the
    * multiply left zero — no overlap, plain + is exact.
    */
  private def rotl(x: String, r: Int): String =
    s"(CAST((CAST($x AS HUGEINT) * ${1L << r}) % $M AS UBIGINT) + (($x) >> ${64 - r}))"

  private def xr(a: String, b: String): String =
    s"xor(CAST($a AS UBIGINT), CAST($b AS UBIGINT))"

  private def u(x: String): String = s"CAST($x AS UBIGINT)"

  /** CTE chain hashing a `(tok)` relation named `$src` (ASCII, < 32
    * bytes) to `xh_h1(tok, h1)` — h1 is Spark `xxhash64(tok)` as
    * UBIGINT.
    */
  /** Strings must stay under 32 bytes (the XXH64 tail path — three
    * unrolled 8-byte lanes + one 4-byte lane + per-byte fold) and
    * ASCII (strlen counts bytes, substr/ascii index characters); the
    * ≥ 32-byte 4-accumulator main loop is deliberately out of scope.
    * The guard below makes a scope violation NAME ITSELF — without it
    * the 3-lane unroll silently skips bytes 24..31 and the mismatch
    * surfaces as an opaque oracle false-RED with no diagnostic.
    * `strlen(tok) <> length(tok)` (bytes vs characters) is the ASCII
    * test.
    */
  def h1Ctes(src: String, seedExpr: String = "CAST(42 AS UBIGINT)",
      carry: Seq[String] = Nil): String = {
    val cc = carry.map(_ + ", ").mkString
    val nGuard =
      """CASE WHEN strlen(tok) >= 32 OR strlen(tok) <> length(tok)
        |  THEN CAST(error('XxhSql: token out of replay scope """.stripMargin +
        "(>= 32 bytes or non-ASCII): ' || tok) AS BIGINT)\n" +
        "  ELSE strlen(tok) END"
    val lane8 = "bs[i+1]+bs[i+2]*256+bs[i+3]*65536+bs[i+4]*16777216" +
      "+bs[i+5]*4294967296+bs[i+6]*1099511627776+bs[i+7]*281474976710656" +
      "+bs[i+8]*72057594037927936"
    val laneRounds = (1 to 3).map { r =>
      val in = if (r == 1) "xh_i0" else s"xh_l${r - 1}"
      s"""xh_l$r AS (SELECT ${cc}tok, n, bs,
         |        CASE WHEN n - i >= 8 THEN ${add(mul("k27", u(P1)), u(P4))}
         |             ELSE acc END acc,
         |        CASE WHEN n - i >= 8 THEN i + 8 ELSE i END i
         |      FROM (SELECT *, ${rotl(xr("acc", "kk"), 27)} k27 FROM
         |        (SELECT *, ${mul(rotl(mul("lane", u(P2)), 31), u(P1))} kk FROM
         |          (SELECT *, CASE WHEN n - i >= 8 THEN $lane8
         |             ELSE CAST(0 AS UBIGINT) END lane FROM $in))))""".stripMargin
    }.mkString(",\n")
    s"""xh_b AS (SELECT ${cc}tok, $nGuard n,
       |        list_transform(range(strlen(tok)),
       |          i -> CAST(ascii(substr(tok, CAST(i+1 AS INT), 1)) AS UBIGINT)) bs
       |      FROM $src),
       |xh_i0 AS (SELECT ${cc}tok, n, bs,
       |        ${add(add(seedExpr, u(P5)), "n")} acc, 0 AS i
       |      FROM xh_b),
       |$laneRounds,
       |xh_s3 AS (SELECT ${cc}tok, n, bs,
       |        CASE WHEN n - i >= 4 THEN ${add(mul("r23", u(P2)), u(P3))} ELSE acc END acc2,
       |        CASE WHEN n - i >= 4 THEN i + 4 ELSE i END i2
       |      FROM (SELECT *, ${rotl(xr("acc", mul("lane4", u(P1))), 23)} r23 FROM
       |        (SELECT *, CASE WHEN n - i >= 4 THEN bs[i+1]+bs[i+2]*256
       |           +bs[i+3]*65536+bs[i+4]*16777216
       |           ELSE CAST(0 AS UBIGINT) END lane4 FROM xh_l3))),
       |xh_s4 AS (SELECT ${cc}tok, n,
       |        list_reduce(list_prepend(acc2, bs[i2+1:n]),
       |          (acc, byte) -> ${mul(rotl(xr("acc", mul("byte", u(P5))), 11), u(P1))}) acc3
       |      FROM xh_s3),
       |xh_s5 AS (SELECT ${cc}tok, ${mul(xr("acc3", "acc3 >> 33"), u(P2))} a FROM xh_s4),
       |xh_s6 AS (SELECT ${cc}tok, ${mul(xr("a", "a >> 29"), u(P3))} a FROM xh_s5),
       |xh_h1 AS (SELECT ${cc}tok, xor(a, a >> 32) h1 FROM xh_s6)""".stripMargin
  }

  /** CTE chaining `xh_h1` through Spark's second-arg INT hash for
    * d ∈ [0, depth) → `xh_bk(tok, d, bucket)` with
    * bucket = pmod(xxhash64(tok, d), width). Width must divide 2^64.
    */
  def bucketCtes(depth: Int, width: Int): String = {
    require(Integer.bitCount(width) == 1,
      s"width=$width must be a power of two for the unsigned-mod identity")
    s"""xh_hd AS (SELECT tok, h1, CAST(dd AS UBIGINT) d
       |      FROM xh_h1 CROSS JOIN (SELECT unnest(range($depth)) dd)),
       |xh_c1 AS (SELECT tok, d,
       |        ${rotl(xr(add(add("h1", u(P5)), u("4")), mul("d", u(P1))), 23)} acc
       |      FROM xh_hd),
       |xh_c2 AS (SELECT tok, d, ${add(mul("acc", u(P2)), u(P3))} a FROM xh_c1),
       |xh_f1 AS (SELECT tok, d, ${mul(xr("a", "a >> 33"), u(P2))} a FROM xh_c2),
       |xh_f2 AS (SELECT tok, d, ${mul(xr("a", "a >> 29"), u(P3))} a FROM xh_f1),
       |xh_bk AS (SELECT tok, CAST(d AS INT) d,
       |        CAST(xor(a, a >> 32) % $width AS BIGINT) bucket FROM xh_f2)""".stripMargin
  }

  // ---------------------------------------------------------------
  // Pure-Scala XXH64 finalizers — used ONLY for data-INDEPENDENT
  // constants baked into generated oracles (e.g. q21's 32 per-hash
  // seeds = xxh64_int4(h, 42) for fixed h): Scala Long arithmetic
  // wraps mod 2^64 natively, matching the algorithm's spec.
  // ---------------------------------------------------------------

  private val KP1 = java.lang.Long.parseUnsignedLong(P1)
  private val KP2 = java.lang.Long.parseUnsignedLong(P2)
  private val KP3 = java.lang.Long.parseUnsignedLong(P3)
  private val KP4 = java.lang.Long.parseUnsignedLong(P4)
  private val KP5 = java.lang.Long.parseUnsignedLong(P5)

  private def kFmix(a0: Long): Long = {
    var a = a0
    a ^= a >>> 33; a *= KP2; a ^= a >>> 29; a *= KP3; a ^= a >>> 32
    a
  }

  private[analytics] def xxhInt4(i: Int, seed: Long): Long = {
    var acc = seed + KP5 + 4L
    acc ^= (i.toLong & 0xffffffffL) * KP1
    acc = java.lang.Long.rotateLeft(acc, 23) * KP2 + KP3
    kFmix(acc)
  }

  /** Unsigned-decimal literal of a Long's 64-bit pattern. */
  private def ulit(v: Long): String =
    s"CAST(${java.lang.Long.toUnsignedString(v)} AS UBIGINT)"

  /** CTE stages folding Spark's xxhash64 over an array of LONGs (the
    * element-wise running-seed fold — no length finalizer between
    * elements; each element goes through the 8-byte lane + fmix with
    * the previous hash as seed). `src` must expose `e1..e<n>` as
    * SIGNED BIGINT columns plus the `carry` columns; the final CTE
    * `xh_lf` carries them plus `lh` (UBIGINT).
    */
  def longFoldCtes(src: String, nElems: Int, carry: Seq[String]): String = {
    val cc = carry.map(_ + ", ").mkString
    def bits(e: String): String =
      s"CAST(CAST($e AS HUGEINT) + CASE WHEN $e < 0 THEN $M ELSE 0 END AS UBIGINT)"
    val stages = (1 to nElems).flatMap { j =>
      val in = if (j == 1) src else s"xh_lf_${j - 1}f"
      val acc = if (j == 1) ulit(42L) else "lh"
      Seq(
        s"""xh_lf_${j}a AS (SELECT *, ${add(add(acc, u(P5)), u("8"))} a0,
           |  ${mul(rotl(mul(bits(s"e$j"), u(P2)), 31), u(P1))} kk FROM $in)""",
        s"""xh_lf_${j}b AS (SELECT *, ${add(mul(rotl(xr("a0", "kk"), 27), u(P1)), u(P4))} ac FROM xh_lf_${j}a)""",
        s"""xh_lf_${j}c AS (SELECT *, ${mul(xr("ac", "ac >> 33"), u(P2))} f1 FROM xh_lf_${j}b)""",
        s"""xh_lf_${j}d AS (SELECT *, ${mul(xr("f1", "f1 >> 29"), u(P3))} f2 FROM xh_lf_${j}c)""",
        s"""xh_lf_${j}f AS (SELECT ${cc}${(1 to nElems).map(k => s"e$k").mkString(", ")}, xor(f2, f2 >> 32) lh FROM xh_lf_${j}d)""")
    }
    (stages.mkString(",\n") +
      s",\nxh_lf AS (SELECT ${cc}lh FROM xh_lf_${nElems}f)")
  }

  /** Shared MinHash replay block — the q21 oracle's front half,
    * parameterized by the docs relation so the gate oracles that judge
    * a DERIVED batch against the corpus (q241) reuse the identical
    * arithmetic without colliding CTE names. `docsRel` must expose
    * `(doc_id, text)`; the block ends with CTEs `shs` (doc_id, sh) and
    * `buckets` (doc_id, band, bucket). No leading WITH.
    */
  def minhashCtes(
      docsRel: String,
      shingleN: Int,
      numHashes: Int,
      bands: Int): String = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val seeds = (0 until numHashes)
      .map(h => s"($h, ${ulit(xxhInt4(h, 42L))})").mkString(", ")
    val toSigned =
      s"CAST(CAST(h1 AS HUGEINT) - CASE WHEN h1 >= " +
        s"CAST(${java.lang.Long.toUnsignedString(Long.MinValue)} AS UBIGINT) " +
        s"THEN $M ELSE 0 END AS BIGINT)"
    s"""t AS (SELECT doc_id, string_split(text, ' ') tok FROM $docsRel),
       |shs AS (SELECT doc_id,
       |          list_distinct(list_transform(range(len(tok) - ${shingleN - 1}),
       |            i -> array_to_string(tok[i+1:i+$shingleN], ' '))) sh
       |        FROM t WHERE len(tok) >= $shingleN),
       |dsh AS (SELECT DISTINCT unnest(sh) tok FROM shs),
       |hs AS (SELECT * FROM (VALUES $seeds) AS v(h, seed)),
       |xsrc AS (SELECT hs.h, hs.seed, dsh.tok FROM dsh CROSS JOIN hs),
       |${h1Ctes("xsrc", seedExpr = "seed", carry = Seq("h", "seed"))},
       |shash AS (SELECT h, tok, $toSigned sv FROM xh_h1),
       |expl AS (SELECT doc_id, unnest(sh) tok FROM shs),
       |sigs AS (SELECT e.doc_id, x.h, min(x.sv) sig
       |         FROM expl e JOIN shash x USING (tok)
       |         GROUP BY e.doc_id, x.h),
       |sigarr AS (SELECT doc_id, list(sig ORDER BY h) sig FROM sigs
       |           GROUP BY doc_id),
       |bandrows AS (SELECT doc_id, bb.b AS band,
       |               ${(1 to rows).map(k => s"sig[bb.b*$rows+$k] e$k").mkString(", ")}
       |             FROM sigarr CROSS JOIN
       |               (SELECT unnest(range($bands)) b) bb),
       |${longFoldCtes("bandrows", rows, carry = Seq("doc_id", "band"))},
       |buckets AS (SELECT doc_id, band, lh AS bucket FROM xh_lf)""".stripMargin
  }

  /** The exact-Jaccard verify expression over two `shs` aliases. */
  private def jaccardSql(a: String, b: String): String =
    s"""ROUND(CAST(len(list_intersect($a.sh, $b.sh)) AS DOUBLE)
       |            / (len($a.sh) + len($b.sh)
       |               - len(list_intersect($a.sh, $b.sh))), 6)""".stripMargin

  /** The q21 oracle: MinHash signatures (per-shingle seeded string
    * hashes, SIGNED min per hash slot), LSH band buckets (the
    * array<long> fold above), bucket-grouped candidate pairs with the
    * maxBucket skew guard, exact-Jaccard verify — the complete
    * engine dataflow replayed from arithmetic. The 32 per-hash seeds
    * are data-independent XXH64 constants baked as literals.
    */
  def q21Oracle(
      shingleN: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucket: Int): String = {
    s"""WITH ${minhashCtes("documents", shingleN, numHashes, bands)},
       |sized AS (SELECT band, bucket, count(*) n FROM buckets
       |          GROUP BY band, bucket),
       |kept AS (SELECT b.* FROM buckets b JOIN sized USING (band, bucket)
       |         WHERE sized.n <= $maxBucket),
       |cand AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
       |         FROM kept a JOIN kept b
       |           ON a.band = b.band AND a.bucket = b.bucket
       |          AND a.doc_id < b.doc_id),
       |ver AS (SELECT c.id_a, c.id_b,
       |          ${jaccardSql("sa", "sb")} jaccard
       |        FROM cand c
       |        JOIN shs sa ON sa.doc_id = c.id_a
       |        JOIN shs sb ON sb.doc_id = c.id_b)
       |SELECT id_a, id_b, jaccard FROM ver WHERE jaccard >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** The q241 oracle: the ingest dedup gate
    * ([[graft.ops.NearDupIndex.dedupGate]]) replayed end to end. The
    * batch is DERIVED from the corpus identically in both engines
    * (near-copies, exact copies, within-batch twins, novel docs — the
    * lacing pattern), the MinHash machinery runs ONCE over
    * corpus ∪ batch (disjoint id spaces split it back), the
    * probe-vs-index candidates apply the skew guard on the CORPUS side
    * only (probe rows are unguarded — the probeIndex contract), the
    * within-batch candidates guard on the BATCH side (the
    * minhashLshPairs contract), and the election replays
    * (jaccard DESC, dup_of ASC) first-match-wins.
    */
  def q241Oracle(
      shingleN: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucket: Int,
      off: Long): String = {
    val id = "CAST(doc_id AS VARCHAR)"
    s"""WITH corpus AS (SELECT doc_id, text FROM documents),
       |batch AS (
       |  SELECT doc_id + $off AS doc_id,
       |         text || ' zz' || CAST(doc_id % 3 AS VARCHAR) AS text
       |  FROM corpus WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + $off, text FROM corpus WHERE doc_id % 10 = 1
       |  UNION ALL
       |  SELECT doc_id + ${2 * off}, text FROM corpus WHERE doc_id % 10 = 1
       |  UNION ALL
       |  SELECT doc_id + $off,
       |    'nb' || $id || ' x' || $id || 'a x' || $id || 'b x'
       |      || $id || 'c x' || $id || 'd'
       |  FROM corpus WHERE doc_id % 10 = 2
       |  UNION ALL
       |  SELECT doc_id + ${2 * off},
       |    'nb' || $id || ' x' || $id || 'a x' || $id || 'b x'
       |      || $id || 'c x' || $id || 'd'
       |  FROM corpus WHERE doc_id % 10 = 2
       |  UNION ALL
       |  SELECT doc_id + $off,
       |    'solo' || $id || ' s' || $id || 'a s' || $id || 'b s'
       |      || $id || 'c s' || $id || 'd'
       |  FROM corpus WHERE doc_id % 10 = 3),
       |alldocs AS (SELECT doc_id, text FROM corpus
       |            UNION ALL SELECT doc_id, text FROM batch),
       |${minhashCtes("alldocs", shingleN, numHashes, bands)},
       |cbk AS (SELECT * FROM buckets WHERE doc_id < $off),
       |bbk AS (SELECT * FROM buckets WHERE doc_id >= $off),
       |sized_c AS (SELECT band, bucket, count(*) n FROM cbk
       |            GROUP BY band, bucket),
       |kept_c AS (SELECT c.* FROM cbk c JOIN sized_c USING (band, bucket)
       |           WHERE sized_c.n <= $maxBucket),
       |cand_vs AS (SELECT DISTINCT q.doc_id q_id, c.doc_id n_id
       |            FROM bbk q JOIN kept_c c
       |              ON q.band = c.band AND q.bucket = c.bucket),
       |sized_b AS (SELECT band, bucket, count(*) n FROM bbk
       |            GROUP BY band, bucket),
       |kept_b AS (SELECT b.* FROM bbk b JOIN sized_b USING (band, bucket)
       |           WHERE sized_b.n <= $maxBucket),
       |cand_wb AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
       |            FROM kept_b a JOIN kept_b b
       |              ON a.band = b.band AND a.bucket = b.bucket
       |             AND a.doc_id < b.doc_id),
       |ver_vs AS (SELECT c.q_id id, c.n_id dup_of,
       |             ${jaccardSql("sa", "sb")} jaccard
       |           FROM cand_vs c
       |           JOIN shs sa ON sa.doc_id = c.q_id
       |           JOIN shs sb ON sb.doc_id = c.n_id),
       |ver_wb AS (SELECT c.id_b id, c.id_a dup_of,
       |             ${jaccardSql("sa", "sb")} jaccard
       |           FROM cand_wb c
       |           JOIN shs sa ON sa.doc_id = c.id_b
       |           JOIN shs sb ON sb.doc_id = c.id_a),
       |matches AS (SELECT * FROM ver_vs WHERE jaccard >= $threshold
       |            UNION ALL
       |            SELECT * FROM ver_wb WHERE jaccard >= $threshold),
       |elected AS (SELECT id, dup_of, jaccard FROM (
       |              SELECT id, dup_of, jaccard,
       |                row_number() OVER (PARTITION BY id
       |                  ORDER BY jaccard DESC, dup_of) rn
       |              FROM matches)
       |            WHERE rn = 1)
       |SELECT b.doc_id, (e.id IS NULL) AS kept, e.dup_of, e.jaccard
       |FROM batch b LEFT JOIN elected e ON b.doc_id = e.id
       |ORDER BY b.doc_id""".stripMargin
  }

  /** The q23 oracle: per-token XXH64 bit contributions → per-doc
    * 64-bit SimHash signs → brute-force Hamming pairs ≤ maxDistance.
    * The chunk blocking in `Dedup.simhashPairs` is exact pigeonhole
    * (any pair within the radius shares a whole chunk), so the pair
    * relation ≡ brute force — the oracle replays the SEMANTICS, the
    * engine plan keeps its equi-join blocking.
    */
  def q23Oracle(maxDistance: Int): String =
    s"""WITH dt AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) cnt
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) tok
       |        FROM documents)
       |  GROUP BY doc_id, tok),
       |xh_toks AS (SELECT DISTINCT tok FROM dt),
       |${h1Ctes("xh_toks")},
       |bits AS (SELECT d.doc_id, bb.b,
       |           CASE WHEN sum(d.cnt *
       |             (2 * CAST((h.h1 >> CAST(bb.b AS INT)) & 1 AS BIGINT) - 1))
       |             > 0 THEN 1 ELSE 0 END AS bit
       |         FROM dt d JOIN xh_h1 h USING (tok)
       |         CROSS JOIN (SELECT unnest(range(64)) b) bb
       |         GROUP BY d.doc_id, bb.b),
       |sk AS (SELECT doc_id, list(bit ORDER BY b) bits
       |       FROM bits GROUP BY doc_id),
       |p AS (SELECT a.doc_id id_a, b.doc_id id_b,
       |        CAST(list_sum(list_transform(range(64),
       |          i -> CASE WHEN a.bits[i+1] = b.bits[i+1] THEN 0 ELSE 1 END))
       |          AS BIGINT) hamming
       |      FROM sk a JOIN sk b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM p WHERE hamming <= $maxDistance
       |ORDER BY id_a, id_b""".stripMargin

  /** The q129 oracle: winnowing fingerprint selection (Schleimer et
    * al. 2003) replayed from pure arithmetic — per-token XXH64 (the
    * [[h1Ctes]] replay), the FNV-64 rolling k-gram polynomial
    * `acc = acc·B + h mod 2^64` (B = the engine's RollB, odd FNV
    * prime; spelled in the same 32-bit-limb HUGEINT arithmetic), and
    * the window-minimum selection with the RIGHTMOST tie rule over
    * SIGNED hash values (the engine compares Scala Longs): for each
    * window end, the selected position is found by taking
    * `list_position` of the min in the REVERSED window slice — first
    * occurrence in the reversal = rightmost in the original.
    * Documents shorter than one full window of k-gram hashes winnow
    * to their single global minimum (the `LEAST(window, m)` effective
    * window); documents with fewer than k tokens produce no hashes
    * and no row. Output matches q129's per-doc rollup.
    */
  def q129Oracle(k: Int, window: Int): String = {
    require(k >= 2, "q129Oracle: k >= 2 (the fold below needs e1..ek)")
    val B = "CAST(1099511628211 AS UBIGINT)" // 0x100000001b3, HashSketches.RollB
    val wCols = (1 to k).map(j => s"hs[wp+$j] e$j").mkString(", ")
    val fold = (2 to k).map { j =>
      val in = if (j == 2) "wr" else s"wf${j - 1}"
      val acc = if (j == 2) "e1" else s"a${j - 1}"
      val out = if (j == k) s"wh" else s"a$j"
      s"wf$j AS (SELECT doc_id, wp, ${(j + 1 to k).map(x => s"e$x, ").mkString}" +
        s"${add(mul(acc, B), s"e$j")} $out FROM $in)"
    }.mkString(",\n")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') tok FROM documents),
       |dtok AS (SELECT DISTINCT unnest(tok) tok FROM t),
       |${h1Ctes("dtok")},
       |px AS (SELECT doc_id, unnest(tok) w, unnest(range(len(tok))) p FROM t),
       |ph AS (SELECT px.doc_id, px.p, h.h1 FROM px JOIN xh_h1 h ON px.w = h.tok),
       |hlist AS (SELECT doc_id, list(h1 ORDER BY p) hs, count(*) n
       |          FROM ph GROUP BY doc_id),
       |wr AS (SELECT doc_id, wp, $wCols FROM
       |         (SELECT doc_id, hs, unnest(range(n - ${k - 1})) wp
       |          FROM hlist WHERE n >= $k)),
       |$fold,
       |sw AS (SELECT doc_id, wp,
       |         CAST(CAST(wh AS HUGEINT) - CASE WHEN wh >=
       |           CAST(9223372036854775808 AS UBIGINT)
       |           THEN CAST($M AS HUGEINT) ELSE 0 END AS BIGINT) sh
       |       FROM wf$k),
       |wl AS (SELECT doc_id, list(sh ORDER BY wp) hl, count(*) m
       |       FROM sw GROUP BY doc_id),
       |sel AS (SELECT doc_id, list_distinct(list_transform(
       |          range(LEAST($window, m) - 1, m),
       |          e -> e - (list_position(
       |                 list_reverse(hl[e - LEAST($window, m) + 2 : e + 1]),
       |                 list_min(hl[e - LEAST($window, m) + 2 : e + 1])) - 1)))
       |          sels
       |        FROM wl)
       |SELECT doc_id, CAST(len(sels) AS BIGINT) n_fps,
       |  CAST(list_min(sels) AS INT) first_pos,
       |  CAST(list_max(sels) AS INT) last_pos
       |FROM sel ORDER BY doc_id""".stripMargin
  }

  /** The full q184 oracle: CountMin cell placement + min-of-rows
    * estimate, replayed from pure arithmetic.
    */
  def q184Oracle(probeTerms: Seq[String], depth: Int, width: Int): String = {
    val probeList = probeTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH occ AS (
       |  SELECT source, tok, CAST(count(*) AS BIGINT) cnt
       |  FROM (SELECT source, unnest(string_split(text, ' ')) tok FROM documents)
       |  WHERE tok <> '' GROUP BY source, tok),
       |xh_toks AS (SELECT DISTINCT tok FROM occ
       |            UNION SELECT unnest([$probeList]) tok),
       |${h1Ctes("xh_toks")},
       |${bucketCtes(depth, width)},
       |cells AS (SELECT o.source, k.d, k.bucket, CAST(sum(o.cnt) AS BIGINT) cnt
       |          FROM occ o JOIN xh_bk k USING (tok) GROUP BY 1, 2, 3),
       |probes AS (SELECT s.source, p.tok
       |           FROM (SELECT DISTINCT source FROM occ) s
       |           CROSS JOIN (SELECT unnest([$probeList]) tok) p),
       |est AS (SELECT pr.source, pr.tok,
       |          min(coalesce(c.cnt, 0)) est
       |        FROM probes pr
       |        JOIN xh_bk k ON pr.tok = k.tok
       |        LEFT JOIN cells c ON c.source = pr.source AND c.d = k.d
       |          AND c.bucket = k.bucket
       |        GROUP BY pr.source, pr.tok)
       |SELECT source, tok, CAST(est AS BIGINT) AS est FROM est
       |ORDER BY source, tok""".stripMargin
  }
}
