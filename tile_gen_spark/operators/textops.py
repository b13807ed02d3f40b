"""Web-text / training-data-pipeline operators (SURVEY.md §2 + driver mandate).

Deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard), text analysis
(language-ID heuristic, quality scoring, token counting, document
fingerprinting) — all expressed as dialect-parametrized SQL (Spark SQL +
DuckDB) generated from one builder, so every operator has a true cross-engine
oracle. Everything is JVM-side built-in functions on the Spark path (split /
transform / explode / md5 / window) — zero Python UDFs; at 100 TB the only
shuffles are the groupBys on doc_id/bucket keys, one explicit
``REPARTITION(doc_id, sh)`` exchange over the MinHash shingles (so every
consumer reuses one materialization; see q_minhash_pairs), and the
LSH band join, which replaces the quadratic all-pairs comparison.

Hash portability: 60-bit md5 prefix (plans/sqlgen.md5_bigint) reduced mod the
Mersenne prime 2^31-1 before the per-function affine step, so products stay
within int64 in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from ..plans import sqlgen as S

P31 = 2147483647  # 2^31 - 1


def _hash_ab(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic per-function affine params (a_j, b_j), shared by both
    the VALUES-table form (oracle) and the r7 column form (Spark)."""
    import numpy as np
    from ..functions.kernels import h64
    idx = np.arange(num_hashes, dtype=np.uint64)
    a = (h64(idx, 42, 1) % np.uint64(P31 - 2) + np.uint64(1)).astype(np.int64)
    b = (h64(idx, 42, 2) % np.uint64(P31)).astype(np.int64)
    return [int(v) for v in a], [int(v) for v in b]


def _hash_params(num_hashes: int) -> str:
    """Deterministic (j, a, b) rows as a VALUES table (identical dialects)."""
    a, b = _hash_ab(num_hashes)
    rows = ", ".join(f"({j}, {a[j]}, {b[j]})" for j in range(num_hashes))
    return f"(VALUES {rows}) AS hp(j, a, b)"


def words_cte(d: str, src: str = "documents", idc: str = "doc_id",
              textc: str = "text") -> str:
    if d == S.SPARK:
        return (f"SELECT {idc}, explode(split(trim({textc}), '\\\\s+')) AS w "
                f"FROM {src} WHERE length(trim({textc})) > 0")
    return (f"SELECT {idc}, u.w FROM (SELECT {idc}, regexp_split_to_array(trim({textc}), "
            f"'\\s+') AS words FROM {src} WHERE length(trim({textc})) > 0) t, "
            f"unnest(t.words) AS u(w)")


def shingles_cte(d: str, n: int = 3, src: str = "documents", idc: str = "doc_id",
                 textc: str = "text") -> str:
    """Word n-gram shingles, one row per (doc, shingle position)."""
    if d == S.SPARK:
        gen = (f"CASE WHEN size(words) >= {n} THEN transform(sequence(1, size(words) - {n - 1}), "
               f"i -> concat_ws(' ', slice(words, i, {n}))) ELSE array() END")
        return (f"SELECT {idc}, explode({gen}) AS sh FROM "
                f"(SELECT {idc}, split(trim({textc}), '\\\\s+') AS words FROM {src} "
                f"WHERE length(trim({textc})) > 0) t")
    return (f"SELECT {idc}, array_to_string(list_slice(t.words, u.i, u.i + {n - 1}), ' ') AS sh "
            f"FROM (SELECT {idc}, regexp_split_to_array(trim({textc}), '\\s+') AS words "
            f"FROM {src} WHERE length(trim({textc})) > 0) t, "
            f"unnest(range(1, greatest(len(t.words) - {n - 1}, 0) + 1)) AS u(i)")


def minhash_sig_cte(d: str, num_hashes: int, shingles: str = "sh_cte") -> str:
    h = S.md5_bigint("sh", d)
    return (f"SELECT doc_id, hp.j, min((hp.a * ({h} % {P31}) + hp.b) % {P31}) AS minv "
            f"FROM {shingles} CROSS JOIN {_hash_params(num_hashes)} "
            f"GROUP BY doc_id, hp.j")


def minhash_buckets_cte(d: str, num_hashes: int, bands: int, sig: str = "sig") -> str:
    per_band = num_hashes // bands
    band = f"CAST(floor(j / {per_band}.0) AS BIGINT)"
    if d == S.SPARK:
        agg = ("concat_ws(',', transform(array_sort(collect_list(struct(j, minv))), "
               "s -> CAST(s.minv AS STRING)))")
    else:
        agg = "string_agg(CAST(minv AS VARCHAR), ',' ORDER BY j)"
    return (f"SELECT doc_id, band, {S.md5_bigint('sigstr', d)} AS bucket FROM "
            f"(SELECT doc_id, {band} AS band, {agg} AS sigstr FROM {sig} "
            f"GROUP BY doc_id, {band}) b")


def q_minhash_pairs(d: str, num_hashes: int = 16, bands: int = 4,
                    shingle_n: int = 3) -> str:
    """MinHash-LSH candidate pairs + exact n-gram Jaccard verification.

    r7 Spark-side restructure (oracle text unchanged, rows identical —
    A/B'd 4.53 s → 1.18 s at sf0.1/local[32]): the signature is computed as
    ``num_hashes`` MIN-AGGREGATE COLUMNS over the shingle-hash stream
    instead of a shingles × hash-params CROSS JOIN — that drops the 16×
    pre-aggregation row blowup, md5-hashes each shingle once instead of
    once per hash function, collapses sig+buckets from two aggregations
    (two exchanges, 16 rows/doc through the first) into ONE ``GROUP BY
    doc_id`` whose map-side partial leaves one 16-long row per doc, and
    derives the per-band bucket strings by pure projection + explode
    (guide §2.3 "aggregate before you shuffle" / §2.4 "remove shuffles").
    The band self-join, Jaccard verification and final joins are unchanged
    (AQE picks broadcast for the small pair set at runtime — deliberately
    NOT a hint, since at 100 TB the pair set can exceed broadcast limits).

    r7 second pass: ``sh_cte`` carries a ``REPARTITION(doc_id, sh)`` hint.
    Spark inlines CTEs, so without it the shingle subtree
    (scan → split → explode → md5) is planned per consumer and the AQE
    runtime only deduplicated it down to TWO materializations (the sig
    path's partial-agg exchange and the verification path's distinct
    exchange had different shapes). The hint pins one byte-identical
    Exchange directly above the generation, so every consumer hits
    ReusedExchange and the shingles are exploded + md5'd ONCE (executed
    final plan: ONE materialized shingle Generate + 7 ReusedExchange refs,
    committed as plans/r07/dedup_minhash_after_executed.txt);
    ``DISTINCT (doc_id, sh)`` turns partition-local, while sig16 and sizes
    keep exchanges that are now TINY (map-side partial aggs reduce them to
    ~1 row/doc first) — guide §2.4 / exchange reuse.
    Partitioning by (doc_id, sh) rather than doc_id alone keeps a
    pathological mega-doc's shingles spread across tasks (same skew
    posture as the old distinct exchange) and measured faster too.
    Rows trivially identical: a repartition changes placement, not content.
    Caveat (pinned in tests/test_textops_minhash.py): AQE cannot
    canonicalize InMemoryTableScan instances as equal, so a CACHED doc
    source falls back to recomputing per consumer — still correct, just
    without the reuse; the scan-backed bench path reuses.
    """
    if d == S.SPARK:
        a, b = _hash_ab(num_hashes)
        per_band = num_hashes // bands
        h = S.md5_bigint("sh", d)
        mins = ", ".join(
            f"min(({a[j]} * hm + {b[j]}) % {P31}) AS m{j}"
            for j in range(num_hashes))
        band_structs = ", ".join(
            f"named_struct('band', CAST({bb} AS BIGINT), 'sigstr', concat_ws(',', "
            + ", ".join(f"CAST(m{bb * per_band + i} AS STRING)"
                        for i in range(per_band)) + "))"
            for bb in range(bands))
        return f"""
WITH sh_src AS ({shingles_cte(d, shingle_n)}),
sh_cte AS (SELECT /*+ REPARTITION(doc_id, sh) */ doc_id, sh FROM sh_src),
shh AS (SELECT doc_id, {h} % {P31} AS hm FROM sh_cte),
sig16 AS (SELECT doc_id, {mins} FROM shh GROUP BY doc_id),
buckets AS (
  SELECT doc_id, bs.band AS band, {S.md5_bigint('bs.sigstr', d)} AS bucket
  FROM sig16 LATERAL VIEW explode(array({band_structs})) t AS bs),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
dsh AS (SELECT DISTINCT doc_id, sh FROM sh_cte),
sizes AS (SELECT doc_id, count(*) AS ns FROM dsh GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS ni
  FROM pairs p
  JOIN dsh sa ON sa.doc_id = p.doc_a
  JOIN dsh sb ON sb.doc_id = p.doc_b AND sb.sh = sa.sh
  GROUP BY p.doc_a, p.doc_b)
SELECT p.doc_a, p.doc_b,
       round(CAST(coalesce(i.ni, 0) AS DOUBLE)
             / CAST(za.ns + zb.ns - coalesce(i.ni, 0) AS DOUBLE), 6) AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
JOIN sizes za ON za.doc_id = p.doc_a
JOIN sizes zb ON zb.doc_id = p.doc_b
"""
    return f"""
WITH sh_cte AS ({shingles_cte(d, shingle_n)}),
sig AS ({minhash_sig_cte(d, num_hashes)}),
buckets AS ({minhash_buckets_cte(d, num_hashes, bands)}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
dsh AS (SELECT DISTINCT doc_id, sh FROM sh_cte),
sizes AS (SELECT doc_id, count(*) AS ns FROM dsh GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS ni
  FROM pairs p
  JOIN dsh sa ON sa.doc_id = p.doc_a
  JOIN dsh sb ON sb.doc_id = p.doc_b AND sb.sh = sa.sh
  GROUP BY p.doc_a, p.doc_b)
SELECT p.doc_a, p.doc_b,
       round(CAST(coalesce(i.ni, 0) AS DOUBLE)
             / CAST(za.ns + zb.ns - coalesce(i.ni, 0) AS DOUBLE), 6) AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
JOIN sizes za ON za.doc_id = p.doc_a
JOIN sizes zb ON zb.doc_id = p.doc_b
"""


def q_simhash(d: str, bits: int = 16) -> str:
    """Per-doc SimHash fingerprint over token hashes (bit-majority vote).

    r7 Spark-side restructure (oracle text unchanged, results identical —
    same pattern as q_minhash_pairs): the per-bit majority votes are
    ``bits`` SUM-AGGREGATE COLUMNS over the token-hash stream instead of a
    tokens × bit-table CROSS JOIN — no 16× row blowup, one md5 per token,
    ONE aggregation on doc_id whose map-side partial leaves one row per
    doc, and the final fingerprint is a pure projection (guide §2.3/§2.4).
    """
    if d == S.SPARK:
        h = S.md5_bigint("w", d)
        sums = ", ".join(
            f"sum(CASE WHEN CAST(floor(h / CAST({1 << i} AS DOUBLE)) AS BIGINT) % 2 = 1 "
            f"THEN 1 ELSE -1 END) AS s{i}" for i in range(bits))
        fp = " + ".join(
            f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
        return f"""
WITH toks AS ({words_cte(d)}),
tokh AS (SELECT doc_id, {h} % {1 << bits} AS h FROM toks),
bitsums AS (SELECT doc_id, {sums} FROM tokh GROUP BY doc_id)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bitsums
"""
    rows = ", ".join(f"({i}, {1 << i})" for i in range(bits))
    bt = f"(VALUES {rows}) AS bt(i, p2)"
    h = S.md5_bigint("w", d)
    return f"""
WITH toks AS ({words_cte(d)}),
tokh AS (SELECT doc_id, {h} % {1 << bits} AS h FROM toks),
bitsum AS (
  SELECT doc_id, bt.i, bt.p2,
         sum(CASE WHEN CAST(floor(h / CAST(bt.p2 AS DOUBLE)) AS BIGINT) % 2 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM tokh CROSS JOIN {bt}
  GROUP BY doc_id, bt.i, bt.p2)
SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN p2 ELSE 0 END) AS BIGINT) AS simhash
FROM bitsum GROUP BY doc_id
"""


def q_simhash_near_dups(d: str, bits: int = 16, max_hamming: int = 2) -> str:
    """Near-dup pairs: simhash equality on half-bands (pigeonhole) + exact
    hamming refine ≤ max_hamming — the SimHash analogue of LSH banding."""
    half = bits // 2
    lo = f"(simhash % {1 << half})"
    hi = f"CAST(floor(simhash / {1 << half}.0) AS BIGINT)"
    if d == S.SPARK:
        # r7: exact hamming via bit_count(xor) — one codegen'd expression
        # per candidate pair instead of a 16-row bit-table cross join + agg
        # (oracle text unchanged; identical counts).
        return f"""
WITH sims AS ({q_simhash(d, bits).strip()}),
cand AS (
  SELECT a.doc_id AS doc_a, a.simhash AS sim_a, b.doc_id AS doc_b, b.simhash AS sim_b
  FROM sims a JOIN sims b ON a.doc_id < b.doc_id
   AND ({lo.replace('simhash', 'a.simhash')} = {lo.replace('simhash', 'b.simhash')}
        OR {hi.replace('simhash', 'a.simhash')} = {hi.replace('simhash', 'b.simhash')}))
SELECT doc_a, doc_b, CAST(bit_count(sim_a ^ sim_b) AS INT) AS hamming FROM cand
WHERE bit_count(sim_a ^ sim_b) <= {max_hamming}
"""
    rows = ", ".join(f"({i}, {1 << i})" for i in range(bits))
    bt = f"(VALUES {rows}) AS bt(i, p2)"
    xor = (f"CAST(floor(a.sim_a / CAST(bt.p2 AS DOUBLE)) AS BIGINT) % 2 "
           f"<> CAST(floor(a.sim_b / CAST(bt.p2 AS DOUBLE)) AS BIGINT) % 2")
    return f"""
WITH sims AS ({q_simhash(d, bits).strip()}),
cand AS (
  SELECT a.doc_id AS doc_a, a.simhash AS sim_a, b.doc_id AS doc_b, b.simhash AS sim_b
  FROM sims a JOIN sims b ON a.doc_id < b.doc_id
   AND ({lo.replace('simhash', 'a.simhash')} = {lo.replace('simhash', 'b.simhash')}
        OR {hi.replace('simhash', 'a.simhash')} = {hi.replace('simhash', 'b.simhash')})),
ham AS (
  SELECT doc_a, doc_b, sum(CASE WHEN {xor} THEN 1 ELSE 0 END) AS hamming
  FROM cand a CROSS JOIN {bt} GROUP BY doc_a, doc_b)
SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming FROM ham
WHERE hamming <= {max_hamming}
"""


_STOPWORDS = {"en": [" the ", " a "], "de": [" der ", " und "],
              "fr": [" le ", " la "], "es": [" el ", " los "]}


def q_lang_id(d: str) -> str:
    """Heuristic language-ID: stopword-occurrence scoring, argmax by CASE."""
    scores = []
    for lang, words in _STOPWORDS.items():
        terms = " + ".join(
            f"CAST((length(pt) - length(replace(pt, '{w}', ''))) / {len(w)} AS BIGINT)"
            for w in words)
        scores.append(f"({terms}) AS s_{lang}")
    langs = list(_STOPWORDS)
    # deterministic argmax: first lang (in fixed order) with the max score
    best = ("CASE "
            + " ".join(
                f"WHEN s_{l} > 0 AND " + " AND ".join(
                    [f"s_{l} >= s_{m}" for m in langs[:i]] +
                    [f"s_{l} > s_{m}" for m in langs[i + 1:]] or ["1=1"])
                + f" THEN '{l}'" for i, l in enumerate(langs))
            + " ELSE 'unknown' END")
    return (f"SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs FROM ("
            f"SELECT lang, {best} AS pred_lang FROM ("
            f"SELECT lang, {', '.join(scores)} FROM ("
            f"SELECT lang, concat(' ', lower(text), ' ') AS pt FROM documents) p) s) t "
            f"GROUP BY lang, pred_lang")


def q_quality_score(d: str) -> str:
    """Per-doc quality features + composite score (deterministic, portable)."""
    if d == S.SPARK:
        ntok = "size(split(trim(text), '\\\\s+'))"
    else:
        ntok = "len(regexp_split_to_array(trim(text), '\\s+'))"
    stop = ("CAST((length(concat(' ', lower(text), ' ')) "
            "- length(replace(concat(' ', lower(text), ' '), ' the ', ''))) / 5 AS BIGINT)")
    return (
        f"SELECT doc_id, n_tokens, stop_hits, "
        f"round(CAST(n_chars AS DOUBLE) / n_tokens, 4) AS avg_token_len, "
        f"round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5 "
        f"+ least(CAST(stop_hits AS DOUBLE) / 5.0, 1.0) * 0.5, 4) AS quality "
        f"FROM (SELECT doc_id, n_chars, {ntok} AS n_tokens, {stop} AS stop_hits "
        f"FROM documents WHERE n_chars > 0) t")


def q_fingerprint(d: str, n: int = 5) -> str:
    """Document fingerprint: min 60-bit hash over word n-gram shingles."""
    h = S.md5_bigint("sh", d)
    return (f"WITH sh_cte AS ({shingles_cte(d, n)}) "
            f"SELECT doc_id, CAST(min({h}) AS BIGINT) AS fingerprint, "
            f"CAST(count(*) AS BIGINT) AS n_shingles "
            f"FROM sh_cte GROUP BY doc_id")


def q_dedup_groups(d: str) -> str:
    """Exact-dup groups with a deterministic keeper (min doc_id).

    The driver corpus has no exact dups, so recrawl copies are injected
    (every 50th doc re-emitted under a shifted id) to make the check
    non-trivial — same injection on both engines."""
    return (
        "WITH corpus AS ("
        "  SELECT doc_id, text FROM documents"
        "  UNION ALL"
        "  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0) "
        "SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS group_size, "
        "CAST(min(doc_id) AS BIGINT) AS keeper, "
        "CAST(max(doc_id) AS BIGINT) AS last_doc "
        "FROM corpus GROUP BY md5(text) HAVING count(*) > 1")


# ---------------------------------------------------------------------------
# DataFrame wrappers (bench / library API)
# ---------------------------------------------------------------------------

def minhash_lsh_pairs(docs: DataFrame, num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """MinHash-LSH near-dup pairs over any (doc_id, text) DataFrame.

    r7: if the doc source has fewer partitions than the session's
    parallelism (the local testdata is ONE parquet file, so the whole
    shingle+md5 stage ran in one task), spread it first — scale-adaptive:
    at cluster scale the scan already has ≥ parallelism splits and this is
    a no-op, so no payload bytes are re-shuffled where it wouldn't help
    (guide §2.5 input skew / §6 input split sizing). Measured 1.26 → 0.94 s
    on the sf0.1 bench shape."""
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    docs.createOrReplaceTempView("_mh_docs")
    sql = q_minhash_pairs(S.SPARK, num_hashes, bands).replace(
        "FROM documents", "FROM _mh_docs")
    return spark.sql(sql)
