"""Driver-contract queries + DuckDB oracle SQL for the training-data
pipeline operators (dedup / similarity / text analysis / multimodal).

Each Spark query has an oracle built from THE SAME constants
(``dedup.MINHASH_PERMS``, ``textstats.LANG_PATTERNS``, …) so the two engines
run the identical deterministic algorithm; parity is bit-level because every
hash bottoms out in md5 and every float is an IEEE expression with the same
operand order on both sides (see dedup.dot_f64 / oracle list_reduce).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from influxer_spark.operators import curation as C
from influxer_spark.operators import dedup as D
from influxer_spark.operators import multimodal as M
from influxer_spark.operators import retrieval as R
from influxer_spark.operators import sampling as SA
from influxer_spark.operators import similarity as S
from influxer_spark.operators import textstats as T

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect), mirrors of the Column expressions
# ---------------------------------------------------------------------------

_H32 = "CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"
_NORM = "trim(regexp_replace(lower({x}), '\\s+', ' ', 'g'))"


def _shingles_sql(x: str, k: int) -> str:
    """DuckDB list<varchar> of word k-gram shingles (mirror of word_shingles)."""
    return (
        f"list_transform(generate_series(1, greatest(len(string_split_regex(trim({x}), '\\s+')) - {k - 1}, 1)), "
        f"i -> array_to_string(string_split_regex(trim({x}), '\\s+')[i:i+{k - 1}], ' '))"
    )


def _shingle_hashes_sql(x: str, k: int) -> str:
    return f"list_transform({_shingles_sql(x, k)}, s -> {_H32.format(x='s')})"


_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v)"
)


def _sig_sql() -> str:
    """MinHash signature as a DuckDB list literal, one list_min per perm."""
    mins = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * (h % {D.MERSENNE31}) + {b}) % {D.MERSENNE31}))"
        for a, b in D.MINHASH_PERMS
    )
    return f"[{mins}]"


def _bands_union_sql(src: str) -> str:
    rows = len(D.MINHASH_PERMS) // D.LSH_BANDS
    parts = []
    for b in range(D.LSH_BANDS):
        key = ", ".join(f"sig[{b * rows + r + 1}]" for r in range(rows))
        parts.append(f"SELECT id, {b} AS band, concat_ws('_', {key}) AS key FROM {src}")
    return " UNION ALL ".join(parts)


_JACCARD_VERIFY = """
ds AS (
  SELECT DISTINCT doc_id AS id, unnest({shingles}) AS shingle FROM documents
), sizes AS (
  SELECT id, count(*) AS n FROM ds GROUP BY id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c JOIN ds a ON a.id = c.id_a JOIN ds b ON b.id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b, i.inter / (na.n + nb.n - i.inter) AS jaccard
FROM inter i JOIN sizes na ON na.id = i.id_a JOIN sizes nb ON nb.id = i.id_b
WHERE i.inter / (na.n + nb.n - i.inter) >= {thr}
"""


def _minhash_lsh_sql(k: int, thr: float) -> str:
    return f"""
WITH hashed AS (
  SELECT doc_id AS id, {_shingle_hashes_sql('text', k)} AS hs FROM documents
), sigs AS (
  SELECT id, {_sig_sql()} AS sig FROM hashed
), bands AS (
  {_bands_union_sql('sigs')}
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.id < b.id
), {_JACCARD_VERIFY.format(shingles=_shingles_sql('text', k), thr=thr)}
"""


def _incr_minhash_sql(k: int, min_agree: int) -> str:
    """Fuzzy incremental dedup replay: both signature sets, the band
    collisions, and the ≥min_agree/16 component-agreement rule — mirrors
    ``dedup.incremental_minhash_dedup`` and the shard construction in
    ``_q_incremental_minhash``."""
    agree = (
        "list_sum(list_transform(list_zip(a.sig, b.sig), "
        "x -> CASE WHEN x[1] = x[2] THEN 1 ELSE 0 END))"
    )
    return f"""
WITH cdocs AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < 300
), sdocs AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id >= 300
  UNION ALL
  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 20000, text || ' zz tail marker words here'
  FROM documents WHERE doc_id >= 100 AND doc_id < 150
), chash AS (SELECT id, {_shingle_hashes_sql('text', k)} AS hs FROM cdocs),
csig AS (SELECT id, {_sig_sql()} AS sig FROM chash),
shash AS (SELECT id, {_shingle_hashes_sql('text', k)} AS hs FROM sdocs),
ssig AS (SELECT id, {_sig_sql()} AS sig FROM shash),
cb AS ({_bands_union_sql('csig')}),
sb AS ({_bands_union_sql('ssig')}),
drop_c AS (
  SELECT DISTINCT a.id AS sid
  FROM (SELECT DISTINCT s.id AS sid, c.id AS cid
        FROM sb s JOIN cb c ON s.band = c.band AND s.key = c.key) p
  JOIN ssig a ON a.id = p.sid JOIN csig b ON b.id = p.cid
  WHERE {agree} >= {min_agree}
), drop_s AS (
  SELECT DISTINCT a.id AS sid
  FROM (SELECT DISTINCT s.id AS sid, t.id AS sid_b
        FROM sb s JOIN sb t
          ON s.band = t.band AND s.key = t.key AND t.id < s.id) p
  JOIN ssig a ON a.id = p.sid JOIN ssig b ON b.id = p.sid_b
  WHERE {agree} >= {min_agree}
)
SELECT id FROM sdocs
WHERE id NOT IN (SELECT sid FROM drop_c UNION SELECT sid FROM drop_s)
"""


def _ngram_jaccard_sql(k: int, thr: float) -> str:
    return f"""
WITH ds0 AS (
  SELECT DISTINCT doc_id AS id, unnest({_shingles_sql('text', k)}) AS shingle FROM documents
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM ds0 a JOIN ds0 b ON a.shingle = b.shingle AND a.id < b.id
), {_JACCARD_VERIFY.format(shingles=_shingles_sql('text', k), thr=thr)}
"""


def _simhash_sql(max_hamming: int) -> str:
    token_hashes = (
        f"list_transform(string_split_regex(trim(text), '\\s+'), t -> {_H32.format(x='t')})"
    )
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {j}) % 2 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
        for j in range(D.SIMHASH_BITS)
    )
    bpb = D.SIMHASH_BITS // D.SIMHASH_BLOCKS
    blocks = " UNION ALL ".join(
        f"SELECT id, sh, {i} AS blk, (sh >> {i * bpb}) % {2**bpb} AS val FROM sh"
        for i in range(D.SIMHASH_BLOCKS)
    )
    return f"""
WITH hashed AS (
  SELECT doc_id AS id, {token_hashes} AS hs FROM documents
), sh AS (
  SELECT id, {bit_terms} AS sh FROM hashed
), blocked AS (
  {blocks}
), pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         bit_count(xor(a.sh, b.sh)) AS hamming
  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.val = b.val AND a.id < b.id
)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming FROM pairs WHERE hamming <= {max_hamming}
"""


def _neardup_cos_sql(thr: float) -> str:
    dot = _DOT.format(a="a.v", b="b.v")
    return f"""
WITH v AS (
  SELECT vec_id AS id, embedding AS v,
         sqrt({_DOT.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
)
SELECT a.id AS id_a, b.id AS id_b, {dot} / (a.norm * b.norm) AS cos
FROM v a JOIN v b ON a.id < b.id
WHERE {dot} / (a.norm * b.norm) >= {thr}
"""


def _topk_sql(k: int, mod: int) -> str:
    dot = _DOT.format(a="q.v", b="c.v")
    return f"""
WITH v AS (
  SELECT vec_id, embedding AS v,
         sqrt({_DOT.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
), q AS (SELECT vec_id AS query_id, v, norm FROM v WHERE vec_id % {mod} = 0),
c AS (SELECT vec_id, v, norm FROM v),
scored AS (
  SELECT q.query_id, c.vec_id, {dot} / (q.norm * c.norm) AS cos
  FROM c JOIN q ON c.vec_id <> q.query_id
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _lsh_sql(n_planes: int, k: int, mod: int) -> str:
    """Sign-LSH ANN oracle: the SAME seeded hyperplanes as the Spark query
    are inlined as literals (repr round-trips doubles exactly).  Both sides
    compute each plane's dot product as a sequential left-to-right fold, so
    the sign bits — and hence the buckets — are bit-identical by construction."""
    from influxer_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, n_planes)
    bits = []
    for p in range(n_planes):
        lit = "[" + ", ".join(repr(float(x)) for x in planes[:, p]) + "]"
        d = _DOT.format(a="v", b=lit)
        bits.append(f"(CASE WHEN {d} > 0 THEN {2 ** p} ELSE 0 END)")
    bucket = " + ".join(bits)
    sdot = _DOT.format(a="q.v", b="c.v")
    return f"""
WITH v AS (
  SELECT vec_id, embedding AS v,
         sqrt({_DOT.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
), b AS (
  SELECT vec_id, v, norm, CAST({bucket} AS BIGINT) AS bucket FROM v
), q AS (
  SELECT vec_id AS query_id, v, norm, bucket FROM b WHERE vec_id % {mod} = 0
), scored AS (
  SELECT q.query_id, c.vec_id, {sdot} / (q.norm * c.norm) AS cos
  FROM b c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _ivf_sql(n_lists: int, n_probe: int, k: int, mod: int) -> str:
    """IVF ANN oracle: the SAME seeded centroids as the Spark query are
    inlined as literals (repr round-trips doubles exactly), assignment =
    argmax cosine with (score DESC, cid ASC) tie-break on both sides."""
    from influxer_spark.operators.similarity import ivf_random_centroids

    cent = ivf_random_centroids(64, n_lists)
    values = ", ".join(
        f"({cid}, [{', '.join(repr(float(x)) for x in row)}])"
        for cid, row in enumerate(cent)
    )
    cdot = _DOT.format(a="v.v", b="c.c")
    qdot = _DOT.format(a="q.v", b="c.c")
    sdot = _DOT.format(a="qp.v", b="ca.v")
    return f"""
WITH cent(cid, c) AS (VALUES {values}),
v AS (
  SELECT vec_id, embedding AS v,
         sqrt({_DOT.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
), cscore AS (
  SELECT v.vec_id, v.v, v.norm, c.cid,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY {cdot} / v.norm DESC, c.cid ASC) AS rn
  FROM v CROSS JOIN cent c
), ca AS (
  SELECT vec_id, v, norm, cid AS ivf_list FROM cscore WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, v, norm FROM v WHERE vec_id % {mod} = 0
), qscore AS (
  SELECT q.query_id, q.v, q.norm, c.cid,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY {qdot} / q.norm DESC, c.cid ASC) AS rn
  FROM q CROSS JOIN cent c
), qp AS (
  SELECT query_id, v, norm, cid AS ivf_list FROM qscore WHERE rn <= {n_probe}
), scored AS (
  SELECT qp.query_id, ca.vec_id, {sdot} / (qp.norm * ca.norm) AS cos
  FROM ca JOIN qp USING (ivf_list)
  WHERE ca.vec_id <> qp.query_id
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _lang_case_sql() -> str:
    scores = {
        lang: f"len(regexp_extract_all(text, '{pat}'))"
        for lang, pat in T.LANG_PATTERNS.items()
    }
    clauses = []
    for lang in T.LANG_PRIORITY:
        others = ", ".join(scores[o] for o in T.LANG_PRIORITY if o != lang)
        clauses.append(
            f"WHEN {scores[lang]} > 0 AND {scores[lang]} >= greatest({others}) THEN '{lang}'"
        )
    return "CASE " + " ".join(clauses) + " ELSE 'und' END"


# ---------------------------------------------------------------------------
# Spark query callables
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_exact_dedup(spark, sf_dir):
    return D.exact_dedup(_docs(spark, sf_dir), "doc_id", "text")


def _q_incremental_dedup(spark, sf_dir):
    """Snapshot-shaped dedup: docs ≥300 plus a simulated recrawl of docs
    <100 (re-labeled ids) arrive as a new shard; the kept corpus (<300)
    contributes only its fingerprint manifest.  All recrawls must drop,
    originals keep-first within the shard."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter("doc_id < 300")
    recrawl = docs.filter("doc_id < 100").select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    shard = docs.filter("doc_id >= 300").select("doc_id", "text").unionByName(
        recrawl
    )
    manifest = D.exact_dedup(corpus, "doc_id", "text").select("fingerprint")
    return D.incremental_dedup(manifest, shard, "doc_id", "text")


def _q_incremental_minhash(spark, sf_dir):
    """FUZZY snapshot dedup: the kept corpus (<300) contributes only its
    16-long MinHash signature manifest; the new shard carries fresh docs
    (≥300), exact recrawls (<100, re-labeled +10000 — must drop at 16/16
    agreement) and near-dup recrawls (100–149, re-labeled +20000 with an
    appended tail — drop iff ≥8/16 components agree, the MinHash Jaccard
    estimate ≥ 0.5).  The oracle recomputes both signature sets, the band
    collisions and the agreement rule in SQL — deterministic end-to-end."""
    docs = _docs(spark, sf_dir)
    corpus_sigs = D.minhash_signatures(
        docs.filter("doc_id < 300"), "doc_id", "text", 5
    )
    recrawl_exact = docs.filter("doc_id < 100").select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    recrawl_fuzzy = docs.filter("doc_id >= 100 AND doc_id < 150").select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz tail marker words here")).alias(
            "text"
        ),
    )
    shard = (
        docs.filter("doc_id >= 300")
        .select("doc_id", "text")
        .unionByName(recrawl_exact)
        .unionByName(recrawl_fuzzy)
    )
    return D.incremental_minhash_dedup(corpus_sigs, shard, "doc_id", "text")


def _q_exact_substr(spark, sf_dir):
    """ExactSubstr span dedup (Lee et al. 2022) at k=3 words: a shared
    boilerplate tail is appended to every 5th doc on BOTH engines, so the
    operator must excise that span (plus natural word-soup 3-gram dups)
    while keeping each doc's unique remainder."""
    from influxer_spark.operators.exactsubstr import exact_substr_spans

    docs = _docs(spark, sf_dir)
    pages = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit(" subscribe to our newsletter for updates today"),
            ).otherwise(F.lit("")),
        ).alias("page"),
    )
    return exact_substr_spans(pages, "doc_id", "page", k=3, min_count=2)


_EXACT_SUBSTR_SQL = """
WITH pages AS (
  SELECT doc_id AS id,
    text || CASE WHEN doc_id % 5 = 0
                 THEN ' subscribe to our newsletter for updates today'
                 ELSE '' END AS page
  FROM documents
), base AS (
  SELECT id, string_split_regex(trim(page), '\\s+') AS w FROM pages
), pg AS (
  SELECT id, w, unnest(generate_series(1, len(w) - 2)) AS pos
  FROM base WHERE len(w) >= 3
), g AS (
  SELECT id, pos, array_to_string(w[pos:pos+2], ' ') AS gram FROM pg
), cnt AS (
  SELECT gram, count(*) AS n FROM g GROUP BY 1
), dup AS (
  SELECT g.id, g.pos, g.pos + 2 AS e
  FROM g JOIN cnt ON cnt.gram = g.gram AND cnt.n >= 2
), m AS (
  SELECT id, pos, e,
    CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
    THEN 1 ELSE 0 END AS new_span
  FROM dup
), mi AS (
  SELECT *, sum(new_span) OVER (PARTITION BY id ORDER BY pos
    ROWS UNBOUNDED PRECEDING) AS span_id
  FROM m
), spans AS (
  SELECT id, span_id, min(pos) AS s, max(e) AS e FROM mi GROUP BY 1, 2
), covered AS (
  SELECT id, unnest(generate_series(s, e)) AS pos FROM spans
), stats AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS dup_words
  FROM spans GROUP BY 1
), dg AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_dup_grams FROM dup GROUP BY 1
), words AS (
  SELECT id, unnest(generate_series(1, len(w))) AS pos, unnest(w) AS word
  FROM base
), kept AS (
  SELECT w.id, string_agg(w.word, ' ' ORDER BY w.pos) AS clean_text
  FROM words w LEFT JOIN covered c ON c.id = w.id AND c.pos = w.pos
  WHERE c.id IS NULL GROUP BY 1
)
SELECT b.id, CAST(len(b.w) AS BIGINT) AS n_words,
  coalesce(dg.n_dup_grams, 0) AS n_dup_grams,
  coalesce(st.n_spans, 0) AS n_spans,
  coalesce(st.dup_words, 0) AS dup_words,
  coalesce(k.clean_text, '') AS clean_text
FROM base b
LEFT JOIN dg ON dg.id = b.id
LEFT JOIN stats st ON st.id = b.id
LEFT JOIN kept k ON k.id = b.id
"""


def _q_minhash_lsh(spark, sf_dir):
    return D.minhash_lsh_dedup(_docs(spark, sf_dir), "doc_id", "text", k=5, min_jaccard=0.7)


def _q_ngram_jaccard(spark, sf_dir):
    return D.jaccard_pairs(_docs(spark, sf_dir), "doc_id", "text", k=5, min_jaccard=0.7)


def _q_ppjoin_jaccard(spark, sf_dir):
    # lower τ than ngram_jaccard_dedup: more qualifying pairs AND a longer
    # prefix — exercises the filter's completeness where it is weakest
    return D.prefix_filter_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", k=5, min_jaccard=0.6
    )


def _q_simhash(spark, sf_dir):
    return D.simhash_dedup(_docs(spark, sf_dir), "doc_id", "text", max_hamming=3)


def _q_embedding_neardup(spark, sf_dir):
    return D.embedding_neardup(_vecs(spark, sf_dir), "vec_id", "embedding", min_cosine=0.4)


def _q_ann_brute_topk(spark, sf_dir):
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") % 100 == 0)
    return S.brute_topk(vecs, queries, "vec_id", "embedding", k=10)


def _q_semantic_decontam(spark, sf_dir):
    """Embedding-similarity decontamination (dedup.semantic_decontam):
    every 50th vector plays the benchmark set; corpus docs whose cosine
    against any eval vector reaches 0.5 are flagged with the best match
    (exact copies land at 1.0 — the realistic contamination case)."""
    vecs = _vecs(spark, sf_dir)
    evalset = vecs.filter(F.col("vec_id") % 50 == 0)
    return D.semantic_decontam(vecs, evalset, "vec_id", "embedding", 0.5)


_SEMANTIC_DECONTAM_SQL = """
WITH v AS (
  SELECT vec_id, embedding AS v,
         sqrt({dot_self}) AS norm
  FROM embeddings
  WHERE sqrt({dot_self}) > 0
), e AS (SELECT vec_id AS eval_id, v AS ev, norm AS en FROM v
         WHERE vec_id % 50 = 0),
scored AS (
  SELECT c.vec_id AS id, e.eval_id,
         {dot} / (c.norm * e.en) AS cos
  FROM v c, e
)
SELECT id, eval_id, cos FROM (
  SELECT id, eval_id, cos,
         row_number() OVER (PARTITION BY id ORDER BY cos DESC, eval_id ASC)
           AS rk
  FROM scored WHERE cos >= CAST(0.5 AS DOUBLE)
) WHERE rk = 1
""".format(
    dot_self=_DOT.format(a="embedding", b="embedding"),
    dot=_DOT.format(a="c.v", b="e.ev"),
)


def _q_sq8_topk(spark, sf_dir):
    """Scalar-quantized (SQ8) cosine top-k (operators/similarity.py:
    sq8_topk) — exact BIGINT code dots, scales cancel in quantized-space
    cosine, so the whole ranking is value-oracle-able."""
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") % 100 == 0)
    return S.sq8_topk(vecs, queries, "vec_id", "embedding", k=10)


_SQ8_TOPK_SQL = """
WITH x AS (
  SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
  FROM embeddings
), m AS (
  SELECT vec_id, v,
         list_aggregate(list_transform(v, e -> abs(e)), 'max') AS mx
  FROM x
), codes AS (
  SELECT vec_id,
    list_transform(v, e -> CASE WHEN mx > CAST(0.0 AS DOUBLE)
        THEN CAST(floor(e / (mx / CAST(127.0 AS DOUBLE))
                        + CAST(0.5 AS DOUBLE)) AS BIGINT)
        ELSE CAST(0 AS BIGINT) END) AS q
  FROM m
), sd AS (
  SELECT vec_id, q,
    list_reduce(list_transform(list_zip(q, q), p -> p[1] * p[2]),
                (a, b) -> a + b) AS qq
  FROM codes
), c AS (SELECT vec_id, q, qq FROM sd WHERE qq > 0),
qs AS (
  SELECT vec_id AS query_id, q AS qv, qq AS qqq
  FROM sd WHERE qq > 0 AND vec_id % 100 = 0
), scored AS (
  SELECT qs.query_id, c.vec_id,
    list_reduce(list_transform(list_zip(qs.qv, c.q), p -> p[1] * p[2]),
                (a, b) -> a + b) AS dot_int,
    c.qq AS cqq, qs.qqq AS qqq
  FROM c JOIN qs ON c.vec_id <> qs.query_id
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
       CAST(dot_int AS BIGINT) AS dot_int, cos8 FROM (
  SELECT query_id, vec_id, dot_int,
    CAST(dot_int AS DOUBLE)
      / (sqrt(CAST(qqq AS DOUBLE)) * sqrt(CAST(cqq AS DOUBLE))) AS cos8,
    row_number() OVER (PARTITION BY query_id
        ORDER BY CAST(dot_int AS DOUBLE)
          / (sqrt(CAST(qqq AS DOUBLE)) * sqrt(CAST(cqq AS DOUBLE))) DESC,
        vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""


def _q_ann_lsh_topk(spark, sf_dir):
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") % 100 == 0)
    return S.lsh_ann(vecs, queries, "vec_id", "embedding", dim=64, n_planes=8, k=10)


def _q_ann_ivf_topk(spark, sf_dir):
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") % 100 == 0)
    return S.ivf_ann(
        vecs, queries, "vec_id", "embedding", dim=64, n_lists=8, n_probe=2, k=10
    )


def _q_ann_ivf_index_topk(spark, sf_dir):
    """Catalog-persisted IVF: build the index once (postings partitioned BY
    LIST), then search from storage.  Must be bit-identical to the in-memory
    `ivf_ann` with the same centroids, so it shares that query's oracle."""
    import tempfile

    from influxer_spark.catalog import TableCatalog

    cat = TableCatalog(tempfile.mkdtemp(prefix="ivf_index_gate_"))
    vecs = _vecs(spark, sf_dir)
    S.build_ivf_index(spark, cat, vecs, dim=64, n_lists=8)
    queries = vecs.filter(F.col("vec_id") % 100 == 0)
    return S.ivf_search_index(spark, cat, queries, n_probe=2, k=10)


def _q_ivf_pq_index_topk(spark, sf_dir):
    """Catalog-persisted IVF-PQ (codes-only postings, partitioned by list):
    searching the stored index must be bit-identical to the in-memory
    ivf_pq_topk with the same geometry, so it shares that oracle."""
    import tempfile

    from influxer_spark.catalog import TableCatalog

    cat = TableCatalog(tempfile.mkdtemp(prefix="ivfpq_index_gate_"))
    vecs = _vecs(spark, sf_dir)
    S.build_ivfpq_index(spark, cat, vecs, dim=64, n_lists=8)
    queries = vecs.filter(F.col("vec_id") % 100 == 0)
    return S.ivfpq_search_index(spark, cat, queries, n_probe=2, k=10)


def _q_ivf_pq_index_extend_topk(spark, sf_dir):
    """Incremental index maintenance: build on even ids, extend with odd
    ids, search — must equal the from-scratch index over everything, so
    the UNPARTITIONED in-memory oracle still holds."""
    import tempfile

    from influxer_spark.catalog import TableCatalog

    cat = TableCatalog(tempfile.mkdtemp(prefix="ivfpq_extend_gate_"))
    vecs = _vecs(spark, sf_dir)
    S.build_ivfpq_index(
        spark, cat, vecs.filter(F.col("vec_id") % 2 == 0), dim=64, n_lists=8
    )
    S.extend_ivfpq_index(spark, cat, vecs.filter(F.col("vec_id") % 2 == 1))
    queries = vecs.filter(F.col("vec_id") % 100 == 0)
    return S.ivfpq_search_index(spark, cat, queries, n_probe=2, k=10)


def _q_stream_ivfpq_extend(spark, sf_dir):
    """Streaming ANN index maintenance VALUE-oracled via stop/resume
    replay: persist geometry over an empty corpus, land the vectors as
    two files drained by TWO availableNow runs against one checkpoint
    (each batch extends the index — one snapshot per batch), then search.
    A hash match against the UNPARTITIONED in-memory IVF-PQ oracle proves
    the streamed index equals a from-scratch batch build."""
    import glob
    import os
    import shutil
    import tempfile

    from influxer_spark.catalog import TableCatalog
    from influxer_spark.streaming import run_incremental_ivfpq

    vecs = _vecs(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="stream_ivfpq_gate_")
    d = {n: os.path.join(root, n) for n in ("input", "ckpt", "stage", "cat")}
    os.makedirs(d["input"])
    cat = TableCatalog(d["cat"])
    S.build_ivfpq_index(
        spark, cat, vecs.filter(F.lit(False)), dim=64, n_lists=8
    )
    for name, part in (
        ("a", vecs.filter(F.col("vec_id") % 2 == 0)),
        ("b", vecs.filter(F.col("vec_id") % 2 == 1)),
    ):
        staging = os.path.join(d["stage"], name)
        part.coalesce(1).write.mode("overwrite").parquet(staging)
        shutil.copy(
            glob.glob(os.path.join(staging, "part-*.parquet"))[0],
            os.path.join(d["input"], f"{name}.parquet"),
        )
        run_incremental_ivfpq(spark, d["input"], vecs.schema, cat, d["ckpt"])
    queries = vecs.filter(F.col("vec_id") % 100 == 0)
    return S.ivfpq_search_index(spark, cat, queries, n_probe=2, k=10)


def _q_pq_encode(spark, sf_dir):
    books = S.pq_random_codebooks(64, m=8, ksub=16)
    return S.pq_encode(_vecs(spark, sf_dir), "vec_id", "embedding", books)


def _q_pq_adc_topk(spark, sf_dir):
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") % 100 == 0)
    books = S.pq_random_codebooks(64, m=8, ksub=16)
    return S.pq_adc_topk(vecs, queries, books, "vec_id", "embedding", k=10)


def _pq_dists_sql(books, j: int, center: str | None = None) -> str:
    """DuckDB list<double> of subspace-j squared distances — mirrors
    similarity._subspace_dists fold-for-fold (seeded codebooks inlined as
    literals, like the IVF centroids).  ``center`` (a SQL list<double> expr,
    e.g. the joined coarse-centroid row) switches to residual distances:
    (vec - center) sliced to subspace j, mirroring _residual_subvector."""
    _, ksub, dsub = books.shape
    sub = (
        f"list_transform(embedding, e -> CAST(e AS DOUBLE))"
        f"[{j * dsub + 1}:{(j + 1) * dsub}]"
    )
    if center is not None:
        csub = f"({center})[{j * dsub + 1}:{(j + 1) * dsub}]"
        sub = f"list_transform(list_zip({sub}, {csub}), p -> p[1] - p[2])"
    cents = []
    for c in range(ksub):
        # CAST('…' AS DOUBLE) per element: a bare literal list is unified to
        # DECIMAL(19,18) by DuckDB, which ROUNDS elements needing >18
        # fractional digits (1-ULP drift vs Spark's exact doubles)
        lit = "[" + ", ".join(
            f"CAST('{float(x)!r}' AS DOUBLE)" for x in books[j, c]
        ) + "]"
        cents.append(
            f"list_reduce(list_transform(list_zip({sub}, {lit}), "
            "p -> (p[1]-p[2])*(p[1]-p[2])), (a,b) -> a+b)"
        )
    return "[" + ", ".join(cents) + "]"


def _pq_encode_sql() -> str:
    books = S.pq_random_codebooks(64, m=8, ksub=16)
    m = books.shape[0]
    dcols = ", ".join(f"{_pq_dists_sql(books, j)} AS d{j}" for j in range(m))
    codes = ", ".join(
        f"CAST(list_position(d{j}, list_aggregate(d{j}, 'min')) - 1 AS INTEGER)"
        for j in range(m)
    )
    sse = " + ".join(f"list_aggregate(d{j}, 'min')" for j in range(m))
    return f"""
WITH d AS (SELECT vec_id, {dcols} FROM embeddings)
SELECT vec_id AS id, array_to_string([{codes}], ',') AS pq_csv,
  CAST(floor(({sse}) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS sse_e6
FROM d
"""


def _pq_adc_sql(k: int, mod: int) -> str:
    books = S.pq_random_codebooks(64, m=8, ksub=16)
    m = books.shape[0]
    dcols = ", ".join(f"{_pq_dists_sql(books, j)} AS d{j}" for j in range(m))
    code_list = ", ".join(
        f"list_position(d{j}, list_aggregate(d{j}, 'min'))" for j in range(m)
    )
    luts = ", ".join(f"{_pq_dists_sql(books, j)} AS lut{j}" for j in range(m))
    adist = " + ".join(f"q.lut{j}[c.codes[{j + 1}]]" for j in range(m))
    return f"""
WITH d AS (SELECT vec_id, {dcols} FROM embeddings),
codes AS (SELECT vec_id, [{code_list}] AS codes FROM d),
q AS (SELECT vec_id AS query_id, {luts} FROM embeddings WHERE vec_id % {mod} = 0),
scored AS (
  SELECT q.query_id, c.vec_id, {adist} AS adist
  FROM codes c JOIN q ON c.vec_id <> q.query_id
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, adist FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
       ORDER BY adist ASC, vec_id ASC) AS rank FROM scored
) WHERE rank <= {k}
"""


def _q_semantic_dedup(spark, sf_dir):
    cent = S.ivf_random_centroids(64, 8)
    return D.semantic_dedup(
        _vecs(spark, sf_dir), "vec_id", "embedding", cent, min_cosine=0.4
    )


def _q_ivf_pq_topk(spark, sf_dir):
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") % 100 == 0)
    cent = S.ivf_random_centroids(64, 8)
    books = S.pq_random_codebooks(64, m=8, ksub=16)
    return S.ivf_pq_topk(
        vecs, queries, cent, books, "vec_id", "embedding", n_probe=2, k=10
    )


def _q_ivf_pq_residual(spark, sf_dir):
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") % 100 == 0)
    cent = S.ivf_random_centroids(64, 8)
    books = S.pq_random_codebooks(64, m=8, ksub=16)
    return S.ivf_pq_topk(
        vecs, queries, cent, books, "vec_id", "embedding",
        n_probe=2, k=10, residual=True,
    )


def _cent_values_cast(cent) -> str:
    """VALUES rows (cid, [CAST('…' AS DOUBLE), …]) — the CAST-per-element
    form keeps DuckDB from unifying the list to DECIMAL(19,18) and rounding
    (see _pq_dists_sql)."""
    return ", ".join(
        "({}, [{}])".format(
            cid, ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in row)
        )
        for cid, row in enumerate(cent)
    )


def _semantic_dedup_sql(n_clusters: int, thr: float) -> str:
    """Semantic-dedup oracle: centroid assignment by raw-dot argmax (dot
    DESC, cid ASC — Spark's first-position-of-max), pairs joined within a
    cluster only."""
    from influxer_spark.operators.similarity import ivf_random_centroids

    cent = ivf_random_centroids(64, n_clusters)
    cdot = _DOT.format(a="v.v", b="c.c")
    pdot = _DOT.format(a="a.v", b="b.v")
    return f"""
WITH cent(cid, c) AS (VALUES {_cent_values_cast(cent)}),
v AS (
  SELECT vec_id AS id, embedding AS v,
         sqrt({_DOT.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
), sc AS (
  SELECT v.id, v.v, v.norm, c.cid,
         row_number() OVER (PARTITION BY v.id
                            ORDER BY {cdot} DESC, c.cid ASC) AS rn
  FROM v CROSS JOIN cent c
), a AS (
  SELECT id, v, norm, CAST(cid AS INT) AS cluster_id FROM sc WHERE rn = 1
)
SELECT a.cluster_id, a.id AS id_a, b.id AS id_b,
       {pdot} / (a.norm * b.norm) AS cos
FROM a JOIN a b ON a.cluster_id = b.cluster_id AND a.id < b.id
WHERE {pdot} / (a.norm * b.norm) >= {thr}
"""


def _ivf_pq_sql(
    n_clusters: int, n_probe: int, k: int, mod: int, residual: bool = False,
    refine_factor: int | None = None,
) -> str:
    """IVF-PQ oracle: coarse assignment + probe ranks replicate the Spark
    fold dots; codes and LUTs replicate _pq_dists_sql; adist is the same
    left-to-right LUT sum.  ``residual`` mirrors the faiss-default mode:
    codes/LUTs quantize (vector - coarse centroid of the assigned/probed
    list), so the code CTE joins the centroid row and the LUT CTE is keyed
    per (query, probed list)."""
    from influxer_spark.operators.similarity import (
        ivf_random_centroids, pq_random_codebooks,
    )

    cent = ivf_random_centroids(64, n_clusters)
    books = pq_random_codebooks(64, m=8, ksub=16)
    m = books.shape[0]
    cdot = _DOT.format(a="v.v", b="c.c")
    qdot = _DOT.format(a="q.v", b="c.c")
    center = "ct.c" if residual else None
    dcols = ", ".join(
        f"{_pq_dists_sql(books, j, center)} AS d{j}" for j in range(m)
    )
    code_list = ", ".join(
        f"list_position(d{j}, list_aggregate(d{j}, 'min'))" for j in range(m)
    )
    luts = ", ".join(
        f"{_pq_dists_sql(books, j, center)} AS lut{j}" for j in range(m)
    )
    adist = " + ".join(f"ql.lut{j}[cd.codes[{j + 1}]]" for j in range(m))
    if residual:
        d_from = (
            "FROM embeddings e JOIN ca ON ca.vec_id = e.vec_id "
            "JOIN cent ct ON ct.cid = ca.ivf_list"
        )
        d_sel = "e.vec_id"
        qlut_sql = f"""
  SELECT e.vec_id AS query_id, qp.ivf_list, {luts}
  FROM embeddings e
  JOIN qp ON qp.query_id = e.vec_id
  JOIN cent ct ON ct.cid = qp.ivf_list
"""
        ql_join = ("JOIN qlut ql ON ql.query_id = qp.query_id "
                   "AND ql.ivf_list = qp.ivf_list")
    else:
        d_from = "FROM embeddings e"
        d_sel = "e.vec_id"
        qlut_sql = (
            f"\n  SELECT vec_id AS query_id, {luts} FROM embeddings "
            f"WHERE vec_id % {mod} = 0\n"
        )
        ql_join = "JOIN qlut ql ON ql.query_id = qp.query_id"
    if refine_factor is None:
        tail = f"""SELECT query_id, CAST(rank AS INT) AS rank, vec_id, adist FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
       ORDER BY adist ASC, vec_id ASC) AS rank FROM scored
) WHERE rank <= {k}"""
    else:
        # faiss IndexRefineFlat tail: ADC nominates refine_factor·k, exact
        # cosine (same ordered fold + operand order as _topk_sql) re-ranks
        exact_dot = _DOT.format(a="qe.embedding", b="e.embedding")
        qnorm = _DOT.format(a="qe.embedding", b="qe.embedding")
        cnorm = _DOT.format(a="e.embedding", b="e.embedding")
        tail = f""", cand AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
         ORDER BY adist ASC, vec_id ASC) AS rank FROM scored
  ) WHERE rank <= {k * refine_factor}
), exact AS (
  SELECT cd.query_id, cd.vec_id,
         {exact_dot} / (sqrt({qnorm}) * sqrt({cnorm})) AS cos
  FROM cand cd
  JOIN embeddings e ON e.vec_id = cd.vec_id
  JOIN embeddings qe ON qe.vec_id = cd.query_id
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
       ORDER BY cos DESC, vec_id ASC) AS rank FROM exact
) WHERE rank <= {k}"""
    return f"""
WITH cent(cid, c) AS (VALUES {_cent_values_cast(cent)}),
v AS (SELECT vec_id, embedding AS v FROM embeddings),
sc AS (
  SELECT v.vec_id, c.cid,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY {cdot} DESC, c.cid ASC) AS rn
  FROM v CROSS JOIN cent c
), ca AS (
  SELECT vec_id, cid AS ivf_list FROM sc WHERE rn = 1
), q AS (SELECT vec_id AS query_id, v FROM v WHERE vec_id % {mod} = 0),
qprobe AS (
  SELECT q.query_id, c.cid AS ivf_list,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY {qdot} DESC, c.cid ASC) AS rn
  FROM q CROSS JOIN cent c
), qp AS (
  SELECT query_id, ivf_list FROM qprobe WHERE rn <= {n_probe}
), d AS (SELECT {d_sel}, {dcols} {d_from}),
codes AS (SELECT vec_id, [{code_list}] AS codes FROM d),
qlut AS ({qlut_sql}), scored AS (
  SELECT qp.query_id, ca.vec_id, {adist} AS adist
  FROM qp
  JOIN ca ON ca.ivf_list = qp.ivf_list
  JOIN codes cd ON cd.vec_id = ca.vec_id
  {ql_join}
  WHERE ca.vec_id <> qp.query_id
)
{tail}
"""


def _q_ivf_pq_refine_topk(spark, sf_dir):
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") % 100 == 0)
    cent = S.ivf_random_centroids(64, 8)
    books = S.pq_random_codebooks(64, m=8, ksub=16)
    return S.ivf_pq_refine_topk(
        vecs, queries, cent, books, "vec_id", "embedding",
        n_probe=2, k=10, refine_factor=4,
    )


def _q_token_stats(spark, sf_dir):
    return T.token_stats(_docs(spark, sf_dir), "doc_id", "text")


def _q_repetition(spark, sf_dir):
    return T.repetition_stats(_docs(spark, sf_dir), "doc_id", "text")


def _q_decontam(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    # k=4 on the synthetic corpus ≈ the overlap rate a 8/13-gram screen sees
    # on real crawl text (19 flagged docs at sf0.01 vs 1 at k=8)
    return D.ngram_decontam(corpus, bench, "doc_id", "text", k=4)


def _q_curation_funnel(spark, sf_dir):
    """End-to-end curation funnel — the composition a corpus pipeline
    actually runs (FineWeb/RefinedWeb shape): Gopher quality filter →
    exact dedup (keep-first) → benchmark decontamination, reporting
    surviving-document counts per stage.  Every stage is an existing
    oracled operator; this query proves they COMPOSE (ids thread through
    joins, no stage re-reads raw text it shouldn't)."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return C.curation_funnel(
        corpus, bench, "doc_id", "text",
        min_words=30, min_stop_hits=1, decontam_k=4,
    )


def _funnel_sql() -> str:
    norm = _NORM.format(x="text")
    return f"""
WITH gq AS ({_gopher_sql(min_words=30, min_stop=1)}),
corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
kept1 AS (
  SELECT c.doc_id, c.text FROM corpus c JOIN gq ON gq.id = c.doc_id AND gq.keep
),
firsts AS (SELECT min(doc_id) AS doc_id FROM kept1 GROUP BY md5({norm})),
kept2 AS (SELECT k.doc_id, k.text FROM kept1 k JOIN firsts USING (doc_id)),
bgrams AS (
  SELECT DISTINCT unnest({_shingles_sql('text', 4)}) AS gram
  FROM documents WHERE doc_id % 50 = 0
),
cgrams AS (
  SELECT DISTINCT doc_id, unnest({_shingles_sql('text', 4)}) AS gram FROM kept2
),
contam AS (SELECT DISTINCT c.doc_id FROM cgrams c JOIN bgrams b USING (gram)),
kept3 AS (
  SELECT doc_id FROM kept2 WHERE doc_id NOT IN (SELECT doc_id FROM contam)
)
SELECT 0 AS stage_idx, 'raw' AS stage, (SELECT count(*) FROM corpus) AS n_docs
UNION ALL SELECT 1, 'gopher_quality', (SELECT count(*) FROM kept1)
UNION ALL SELECT 2, 'exact_dedup', (SELECT count(*) FROM kept2)
UNION ALL SELECT 3, 'decontam', (SELECT count(*) FROM kept3)
"""


def _decontam_sql() -> str:
    return f"""
WITH g AS (
  SELECT DISTINCT doc_id, unnest({_shingles_sql('text', 4)}) AS gram
  FROM documents
), bench AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0
), agg AS (
  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(count(b.gram) AS BIGINT) AS n_contaminated
  FROM (SELECT doc_id, gram FROM g WHERE doc_id % 50 <> 0) c
  LEFT JOIN bench b ON c.gram = b.gram
  GROUP BY 1
)
SELECT doc_id AS id, n_grams, n_contaminated,
       n_contaminated / n_grams AS contam_frac
FROM agg WHERE n_contaminated > 0
"""


def _q_ngram_novelty(spark, sf_dir):
    """Cross-doc novelty: share of each doc's distinct 4-grams found in
    no other document (dedup.ngram_novelty) — the mixture down-weighting
    signal for templated content."""
    return D.ngram_novelty(_docs(spark, sf_dir), "doc_id", "text")


def _novelty_sql() -> str:
    return f"""
WITH g AS (
  SELECT DISTINCT doc_id, unnest({_shingles_sql('text', 4)}) AS gram
  FROM documents
), df AS (
  SELECT gram, count(*) AS d FROM g GROUP BY 1
)
SELECT g.doc_id AS id, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN df.d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       sum(CASE WHEN df.d = 1 THEN 1 ELSE 0 END) / count(*) AS novelty_frac
FROM g JOIN df USING (gram)
GROUP BY 1
"""


def _q_bloom_decontam(spark, sf_dir):
    """Bloom-prefiltered decontamination MUST equal the exact screen —
    the oracle is ngram_decontam's own SQL, so a green row proves the
    prefilter drops no true hit and the confirm join kills every FP."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return D.bloom_decontam(corpus, bench, "doc_id", "text", k=4)


_BM25_TERMS = ["customer", "spark", "vector", "window"]


def _q_bm25(spark, sf_dir):
    return R.bm25_topk(
        _docs(spark, sf_dir), "doc_id", "text", _BM25_TERMS, k=15
    )


def _bm25_sql(k: int) -> str:
    """BM25 oracle: same quantize-then-integer-sum shape as the Spark op.

    The float constants are emitted via repr() of the SAME Python floats the
    Spark expression was built from, so both engines parse identical
    doubles (1.2 + 1.0 in binary is NOT the literal 2.2 — never re-derive
    constants on one side only)."""
    k1, b = 1.2, 0.75
    k1p1, one_m_b = repr(k1 + 1.0), repr(1.0 - b)
    terms = ", ".join(f"('{t}')" for t in _BM25_TERMS)
    return f"""
WITH dt AS (
  SELECT doc_id AS id, token, CAST(count(*) AS BIGINT) AS m
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents)
  GROUP BY 1, 2
), dl AS (
  SELECT id, CAST(sum(m) AS BIGINT) AS dl FROM dt GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), tok AS (
  SELECT CAST(sum(m) AS BIGINT) AS n_tokens FROM dt
), terms(token) AS (VALUES {terms}),
dfreq AS (
  SELECT dt.token, CAST(count(*) AS BIGINT) AS df
  FROM dt JOIN terms ON dt.token = terms.token GROUP BY 1
), idf AS (
  SELECT token,
    CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * {R.IDF_SCALE}, 0)
         AS BIGINT) AS idf_q
  FROM dfreq, tot
), contrib AS (
  SELECT dt.id,
    CAST(round((idf_q / {float(R.IDF_SCALE)!r}) * (m * {k1p1})
      / (m + {k1!r} * ({one_m_b} + {b!r} * dl / (n_tokens / n_docs)))
      * {R.SCORE_SCALE}, 0) AS BIGINT) AS cq
  FROM dt JOIN idf ON idf.token = dt.token JOIN dl ON dl.id = dt.id, tot, tok
)
SELECT id, CAST(count(*) AS BIGINT) AS n_hit_terms,
  CAST(sum(cq) AS BIGINT) AS score_q,
  CAST(sum(cq) AS BIGINT) / {float(R.SCORE_SCALE)!r} AS score
FROM contrib GROUP BY 1
ORDER BY score_q DESC, id ASC LIMIT {k}
"""


def _q_rrf_hybrid(spark, sf_dir):
    """Hybrid search: BM25 lexical top-20 + exact-cosine semantic top-20
    for one query (terms + the doc-0 embedding; vec_id and doc_id share an
    id space), fused with reciprocal-rank fusion (retrieval.rrf_fuse).
    The single-partition row_number windows rank 20-row candidate lists —
    per-query partitioned at scale."""
    from pyspark.sql import Window

    docs, vecs = _docs(spark, sf_dir), _vecs(spark, sf_dir)
    lex = R.bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=20)
    wlex = Window.orderBy(F.desc("score_q"), F.asc("id"))
    lex_r = lex.select("id", F.row_number().over(wlex).alias("rank"))
    sem = S.brute_topk(
        vecs, vecs.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=20
    ).select(F.col("vec_id").alias("id"), F.col("rank"))
    return R.rrf_fuse([("lex", lex_r), ("sem", sem)], k_const=60, topk=15)


def _rrf_sql() -> str:
    dot = _DOT.format(a="q.v", b="c.v")
    return f"""
WITH lexb AS (
  SELECT * FROM ({_bm25_sql(20)})
), lexr AS (
  SELECT id, CAST(row_number() OVER (ORDER BY score_q DESC, id ASC) AS BIGINT)
    AS rank_lex
  FROM lexb
), v AS (
  SELECT vec_id, embedding AS v,
         sqrt({_DOT.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
), q AS (SELECT vec_id AS query_id, v, norm FROM v WHERE vec_id = 0),
scored AS (
  SELECT c.vec_id, {dot} / (q.norm * c.norm) AS cos
  FROM v c JOIN q ON c.vec_id <> q.query_id
), semr AS (
  SELECT vec_id AS id, CAST(rank AS BIGINT) AS rank_sem FROM (
    SELECT vec_id,
           row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
    FROM scored
  ) WHERE rank <= 20
)
SELECT id, rank_lex, rank_sem,
  CAST(CAST(rank_lex IS NOT NULL AS INT)
       + CAST(rank_sem IS NOT NULL AS INT) AS BIGINT) AS n_lists,
  coalesce(1.0/(60 + rank_lex), 0.0)
    + coalesce(1.0/(60 + rank_sem), 0.0) AS rrf
FROM lexr FULL OUTER JOIN semr USING (id)
ORDER BY rrf DESC, id ASC LIMIT 15
"""


def _q_token_doc_freq(spark, sf_dir):
    return C.token_doc_freq(_docs(spark, sf_dir), "doc_id", "text", top_k=20)


def _q_domain_cap(spark, sf_dir):
    return C.domain_cap(_docs(spark, sf_dir), "doc_id", "source", "n_chars", n=3)


def _q_unigram_logprob(spark, sf_dir):
    return C.unigram_logprob(_docs(spark, sf_dir), "doc_id", "text")


def _q_pack_global(spark, sf_dir):
    return C.pack_sequences(_docs(spark, sf_dir), "doc_id", "text", budget=512)


def _q_pack_sharded(spark, sf_dir):
    return C.pack_sequences(
        _docs(spark, sf_dir), "doc_id", "text", budget=512, shard_col="source"
    )


def _q_quality(spark, sf_dir):
    return T.quality_features(_docs(spark, sf_dir), "doc_id", "text")


def _q_langid(spark, sf_dir):
    return T.langid(_docs(spark, sf_dir), "text", label_col="lang")


def _q_fingerprints(spark, sf_dir):
    return T.fingerprints(_docs(spark, sf_dir), "doc_id", "text")


def _q_payload_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    nb = F.octet_length(F.encode(F.col("text"), "UTF-8")).cast("long")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(nb).alias("total_bytes"),
        F.min(F.ascii(F.substring("text", 1, 1))).cast("long").alias("min_first_byte"),
        F.max(F.ascii(F.substring("text", 1, 1))).cast("long").alias("max_first_byte"),
    )


def _q_byte_features(spark, sf_dir):
    """mapInPandas byte features, quantized to 1e-6 so the numpy summation
    order vs the oracle's SQL aggregate order can't flip a bit."""
    docs = _docs(spark, sf_dir)
    feats = M.byte_features(M.with_payload(docs, "doc_id", "text"))

    def q6(c):
        return F.round(c * 1000000, 0).cast("long") / 1000000.0

    return feats.select(
        "id", "n_bytes", "first_byte",
        q6(F.col("mean_byte")).alias("mean_byte"),
        q6(F.col("entropy")).alias("entropy"),
    )


def _q_decode_image_meta(spark, sf_dir):
    """Dependency-free image metadata decode, value-oracled end to end:
    with_image_payload builds structurally-valid PNG/JPEG bytes whose
    parameters derive from h32(doc_id); decode_media's marker-walk/IHDR
    parser (an independent code path) reads them back; the DuckDB oracle
    predicts every integer straight from the md5 formula.  decode_error
    exercises the truncation path (h%17==0 rows are cut at 9 bytes)."""
    pay = M.with_image_payload(_docs(spark, sf_dir), "doc_id")
    return M.decode_media(pay, "image/*").select(
        F.col("id").alias("doc_id"), "format", "width", "height",
        "bit_depth", "color_type", "n_components", "progressive",
        "interlaced", "orientation", "decode_error",
    )


def _q_decode_av_meta(spark, sf_dir):
    """WAV/MP4 container metadata decode, value-oracled the same way as
    decode_image_meta: with_av_payload builds real RIFF/ISO-BMFF byte
    streams from h32(doc_id) (PCM fmt+data chunks; ftyp + moov/mvhd),
    decode_media's chunk/box walker reads them back, and the oracle
    predicts every integer — channels, rates, bit depths, sample counts,
    timescales, durations, integer-division duration_ms — from the md5
    formula.  h%13==0 rows are truncated to 6 bytes."""
    pay = M.with_av_payload(_docs(spark, sf_dir), "doc_id")
    return M.decode_media(pay, "audio/*").select(
        F.col("id").alias("doc_id"), "container", "channels",
        "sample_rate", "bits_per_sample", "n_samples", "brand",
        "timescale", "duration", "duration_ms", "decode_error",
    )


def _q_hash_split(spark, sf_dir):
    return SA.hash_split(
        _docs(spark, sf_dir), "doc_id",
        [("train", 0.8), ("val", 0.1), ("test", 0.1)],
    ).select(F.col("doc_id").alias("id"), "split")


def _q_stratified_sample(spark, sf_dir):
    return SA.stratified_sample(
        _docs(spark, sf_dir), "doc_id", "lang",
        rates={"en": 0.25, "zh": 1.0, "es": 0.5}, default_rate=0.1,
    ).select(F.col("doc_id").alias("id"), "lang")


def _q_upsample_epochs(spark, sf_dir):
    return SA.upsample_epochs(
        _docs(spark, sf_dir).select("doc_id"), "doc_id", 2.3
    ).select(F.col("doc_id").alias("id"), F.col("epoch").cast("int"))


_UPSAMPLE_SQL = (
    "SELECT doc_id AS id, CAST(unnest(range(0, 2 + CASE WHEN "
    "(CAST('0x' || substr(md5('epoch' || CAST(doc_id AS VARCHAR)), 1, 8) "
    "AS BIGINT) % 1000000) < 300000 THEN 1 ELSE 0 END)) AS INT) AS epoch "
    "FROM documents"
)


def _q_global_shuffle(spark, sf_dir):
    return SA.global_shuffle(_docs(spark, sf_dir), "doc_id")


def _q_export_shards(spark, sf_dir):
    """Dataset-export last mile proven end to end: shard the shuffled
    corpus (64 docs per shard), COMMIT one catalog partition per shard in
    one wave snapshot, then read the committed partitions back and report
    the per-shard summary.  The oracle computes the same summary from the
    shuffle-rank SQL alone — a hash match proves assignment, write, and
    manifest read-back all preserve the deterministic permutation."""
    import tempfile

    from influxer_spark.catalog import TableCatalog

    cat = TableCatalog(tempfile.mkdtemp(prefix="shards_gate_"))
    docs = _docs(spark, sf_dir).select("doc_id", "text", "n_chars")
    shards = SA.export_shards(
        spark, cat, docs, "doc_id", docs_per_shard=64, seed="shards"
    )
    back = cat.read_partitions(spark, "train_shards", shards)
    return back.groupBy("shard_idx").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("shuffle_rank").alias("min_rank"),
        F.max("shuffle_rank").alias("max_rank"),
    )


_EXPORT_SHARDS_SQL = (
    "WITH ranked AS ("
    "  SELECT doc_id, n_chars, "
    "         CAST(row_number() OVER (ORDER BY "
    "  md5('shards' || CAST(doc_id AS VARCHAR)) || ':' "
    "  || CAST(doc_id AS VARCHAR)) AS BIGINT) AS r"
    "  FROM documents"
    ") "
    "SELECT CAST(floor((r - 1) / 64) AS BIGINT) AS shard_idx, "
    "count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
    "min(r) AS min_rank, max(r) AS max_rank "
    "FROM ranked GROUP BY 1"
)


def _q_weighted_sample(spark, sf_dir):
    """25 docs per lang, inclusion odds ∝ n_chars (Efraimidis–Spirakis
    A-Res, hash-deterministic) — quality-weighted corpus subsetting."""
    return SA.weighted_sample(
        _docs(spark, sf_dir).select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars", ["lang"], 25,
    ).select("lang", F.col("doc_id").alias("id"), "n_chars", "rank")


_WEIGHTED_SAMPLE_SQL = """
WITH c AS (
  SELECT lang, doc_id, n_chars,
    ln((CAST(concat('0x', substr(md5('wsamp' || CAST(doc_id AS VARCHAR)),
                    1, 15)) AS BIGINT) + 1) / 1152921504606846976.0)
      / CAST(n_chars AS DOUBLE) AS es_key
  FROM documents WHERE n_chars > 0
), r AS (
  SELECT lang, doc_id, n_chars, row_number() OVER (
      PARTITION BY lang ORDER BY es_key DESC, doc_id ASC) AS rank
  FROM c
)
SELECT lang, doc_id AS id, n_chars, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 25
"""


def _q_quantize_int8(spark, sf_dir):
    return SA.quantize_embeddings_int8(_vecs(spark, sf_dir), "vec_id", "embedding")


def _q_cluster_keep(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    pairs = D.minhash_lsh_dedup(docs, "doc_id", "text", k=5, min_jaccard=0.7)
    return D.cluster_keep(docs, pairs, "doc_id", "n_chars")


def _q_gram_exact(spark, sf_dir):
    """Exact integer Gram/covariance summary (operators/pca.py) — the
    one-pass mapInPandas partial path; integer sums are order-independent
    so the DuckDB oracle hash-matches bit-for-bit."""
    from influxer_spark.operators.pca import gram_exact

    return gram_exact(_vecs(spark, sf_dir), "embedding").orderBy("i", "j")


_GRAM_EXACT_SQL = """
WITH q AS (
  SELECT vec_id, i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS v
  FROM embeddings,
       UNNEST(generate_series(1, len(embedding))) AS t(i)
)
SELECT CAST(a.i - 1 AS INT) AS i, CAST(b.i - 1 AS INT) AS j,
       count(*) AS n,
       CAST(sum(a.v) AS BIGINT) AS sum_qi,
       CAST(sum(b.v) AS BIGINT) AS sum_qj,
       CAST(sum(a.v * b.v) AS BIGINT) AS sum_qq
FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY 1, 2
"""


def _q_bpe_train(spark, sf_dir):
    """Distributed BPE merge training (operators/bpe.py) — iterative
    argmax over pair counts, so no single SQL oracle exists (rows-only
    gate check); exact parity with the pure-Python reference trainer is
    pinned by tests/test_bpe.py on this same table."""
    from influxer_spark.operators.bpe import bpe_train

    docs = _docs(spark, sf_dir)
    return bpe_train(docs, "text", 24).orderBy("rank")


def _q_bpe_encode(spark, sf_dir):
    """Rank-greedy BPE encoding with merges learned on the same corpus.
    Iterative (rows-only gate check); reference parity + document
    reconstruction pinned by tests/test_bpe.py."""
    from influxer_spark.operators.bpe import bpe_encode, bpe_train

    docs = _docs(spark, sf_dir)
    merges = bpe_train(docs, "text", 24)
    enc = bpe_encode(docs, "doc_id", "text", merges)
    return enc.select(
        "id",
        F.array_join("tokens", " ").alias("token_str"),
        "n_tokens",
    )


def _cluster_keep_sql() -> str:
    """Recursive-CTE transitive closure over the SAME minhash-LSH pairs
    (small at oracle scale), then best-per-cluster by (n_chars desc, id)."""
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_minhash_lsh_sql(5, 0.7)}) t
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), cc(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, cc.r FROM edges e JOIN cc ON cc.id = e.dst
), canon AS (
  SELECT id, min(r) AS cluster_id FROM cc GROUP BY id
), tagged AS (
  SELECT d.doc_id AS id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         CAST(d.n_chars AS BIGINT) AS n_chars
  FROM documents d LEFT JOIN canon c ON c.id = d.doc_id
)
SELECT id, cluster_id, n_chars,
  CAST(row_number() OVER (PARTITION BY cluster_id
       ORDER BY n_chars DESC, id ASC) AS BIGINT) AS rnk,
  (row_number() OVER (PARTITION BY cluster_id
       ORDER BY n_chars DESC, id ASC) = 1) AS keep
FROM tagged
"""


# md5-threshold bucket shared by hash_split / stratified_sample oracles
_BUCKET = (
    "(CAST('0x' || substr(md5('{seed}' || CAST({x} AS VARCHAR)), 1, 8) "
    "AS BIGINT) % 1000000)"
)

_SHUFFLE_KEY = (
    "md5('shuffle' || CAST(doc_id AS VARCHAR)) || ':' "
    "|| CAST(doc_id AS VARCHAR)"
)

_QUANT_INT8_SQL = """
WITH x AS (
  SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
  FROM embeddings
), m AS (
  SELECT vec_id, v,
         list_aggregate(list_transform(v, e -> abs(e)), 'max') AS mx
  FROM x
), qq AS (
  SELECT vec_id, v, mx,
    CASE WHEN mx > CAST(0.0 AS DOUBLE) THEN mx / CAST(127.0 AS DOUBLE)
         ELSE CAST(0.0 AS DOUBLE) END AS scale,
    list_transform(v, e ->
      CASE WHEN mx > CAST(0.0 AS DOUBLE)
           THEN CAST(floor(e / (mx / CAST(127.0 AS DOUBLE))
                           + CAST(0.5 AS DOUBLE)) AS INTEGER)
           ELSE 0 END) AS q
  FROM m
)
SELECT vec_id AS id, CAST(len(v) AS BIGINT) AS dim, scale,
  array_to_string(q, ',') AS q_csv,
  CAST(floor(list_reduce(list_transform(list_zip(v, q),
      p -> (p[1] - CAST(p[2] AS DOUBLE)*scale)
           * (p[1] - CAST(p[2] AS DOUBLE)*scale)),
      (a,b) -> a+b) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS err_e6
FROM qq
"""


def _q_gopher_quality(spark, sf_dir):
    return T.gopher_quality(_docs(spark, sf_dir), "doc_id", "text")


_GOPHER_SQL_TPL = r"""
WITH base AS (
  SELECT doc_id AS id, text,
         string_split_regex(trim(text), '\s+') AS w,
         string_split(text, chr(10)) AS lines
  FROM documents
),
feat AS (
  SELECT id, text,
    CAST(len(w) AS BIGINT) AS n_words,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(list_sum(list_transform(w, x -> CAST(length(x) AS BIGINT)))
         AS BIGINT) AS sum_wl,
    CAST(len(regexp_extract_all(text, '#'))
         + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS n_sym,
    CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))
         AS BIGINT) AS n_bullet,
    CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '\.\.\.$')))
         AS BIGINT) AS n_ell,
    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
         AS BIGINT) AS n_alpha,
    CAST({stop_terms} AS BIGINT) AS stop_hits
  FROM base
),
r AS (
  SELECT id, n_words, sum_wl / n_words AS mean_word_len,
         n_sym / n_words AS symbol_ratio,
         n_bullet / n_lines AS bullet_ratio,
         n_ell / n_lines AS ellipsis_ratio,
         n_alpha / n_words AS alpha_ratio,
         stop_hits
  FROM feat
)
SELECT id, n_words, mean_word_len, symbol_ratio, bullet_ratio, ellipsis_ratio,
  alpha_ratio, stop_hits,
  (n_words >= {min_words} AND n_words <= 100000) AS ok_words,
  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mean_word_len,
  (symbol_ratio <= 0.1) AS ok_symbols,
  (bullet_ratio <= 0.9) AS ok_bullets,
  (ellipsis_ratio <= 0.3) AS ok_ellipsis,
  (alpha_ratio >= 0.8) AS ok_alpha,
  (stop_hits >= {min_stop}) AS ok_stopwords,
  ((n_words >= {min_words} AND n_words <= 100000)
   AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
   AND (symbol_ratio <= 0.1) AND (bullet_ratio <= 0.9)
   AND (ellipsis_ratio <= 0.3) AND (alpha_ratio >= 0.8)
   AND (stop_hits >= {min_stop})) AS keep
FROM r
"""


def _gopher_sql(min_words: int = 50, min_stop: int = 2) -> str:
    return _GOPHER_SQL_TPL.format(
        min_words=min_words,
        min_stop=min_stop,
        stop_terms=" + ".join(
            f"(CASE WHEN len(regexp_extract_all(text, '\\b{w}\\b')) > 0 "
            "THEN 1 ELSE 0 END)"
            for w in T.GOPHER_STOPWORDS
        ),
    )


_GOPHER_SQL = _gopher_sql()


def _q_containment(spark, sf_dir):
    return D.containment_pairs(
        _docs(spark, sf_dir), "doc_id", "text", k=5, min_containment=0.5
    )


def _containment_sql(k: int, thr: float) -> str:
    return f"""
WITH ds0 AS (
  SELECT DISTINCT doc_id AS id, unnest({_shingles_sql('text', k)}) AS shingle
  FROM documents
), sizes AS (
  SELECT id, count(*) AS n FROM ds0 GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM ds0 a JOIN ds0 b ON a.shingle = b.shingle AND a.id <> b.id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b, i.i / s.n AS containment
FROM inter i JOIN sizes s ON s.id = i.id_a
WHERE i.i / s.n >= {thr}
"""


def _q_bigram_logprob(spark, sf_dir):
    from influxer_spark.operators.curation import bigram_logprob

    return bigram_logprob(_docs(spark, sf_dir), "doc_id", "text")


_BIGRAM_LM_SQL = f"""
WITH dbg AS (
  SELECT doc_id AS id, bg, count(*) AS m
  FROM (SELECT doc_id, unnest({_shingles_sql('text', 2)}) AS bg FROM documents)
  GROUP BY 1, 2
), bgv AS (
  SELECT bg, CAST(sum(m) AS BIGINT) AS cbg FROM dbg GROUP BY 1
), parts AS (
  SELECT bg, cbg,
         string_split(bg, ' ')[1] AS w1,
         string_split(bg, ' ')[-1] AS w2
  FROM bgv
), pre AS (SELECT w1, CAST(sum(cbg) AS BIGINT) AS cpre FROM parts GROUP BY 1),
nxt AS (SELECT w2, CAST(sum(cbg) AS BIGINT) AS cnxt FROM parts GROUP BY 1),
tot AS (SELECT CAST(sum(cbg) AS BIGINT) AS total FROM parts),
model AS (
  SELECT bg,
         CAST(round(ln(0.75 * (cbg / cpre) + 0.25 * (cnxt / total))
                    * 1000000, 0) AS BIGINT) AS q
  FROM parts JOIN pre USING (w1) JOIN nxt USING (w2) CROSS JOIN tot
)
SELECT id, CAST(sum(m) AS BIGINT) AS n_bigrams,
       CAST(sum(m * q) AS BIGINT) AS sum_logp_q,
       CAST(sum(m * q) AS BIGINT) / (1000000 * CAST(sum(m) AS BIGINT))
         AS avg_logprob
FROM dbg JOIN model USING (bg)
GROUP BY 1
"""


def _q_dsir_resample(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
    models for target (lang='en') vs raw, per-doc log importance ratio in
    integer micro-nats, Gumbel-top-100 resample.  Every float crosses the
    engine boundary as a quantized integer BEFORE any aggregation, so the
    oracle hash-matches despite two ln() models and Gumbel noise."""
    from influxer_spark.operators.curation import dsir_importance, dsir_resample

    docs = _docs(spark, sf_dir)
    scored = dsir_importance(
        docs, "doc_id", "text", F.col("lang") == "en", buckets=2048
    )
    return dsir_resample(scored, "id", 100).select(
        "id", "n_feats", "w_micro", "rank"
    )


_DSIR_SQL = f"""
WITH f0 AS (
  SELECT doc_id, (lang = 'en') AS tgt,
         unnest(list_concat({_shingles_sql('text', 1)},
                            {_shingles_sql('text', 2)})) AS s
  FROM documents
), feats AS (
  SELECT doc_id, tgt, {_H32.format(x='s')} % 2048 AS b, count(*) AS m
  FROM f0 GROUP BY 1, 2, 3
), bc AS (
  SELECT b, CAST(sum(m) AS BIGINT) AS cr,
         CAST(sum(CASE WHEN tgt THEN m ELSE 0 END) AS BIGINT) AS ct
  FROM feats GROUP BY 1
), tot AS (
  SELECT CAST(sum(cr) AS BIGINT) AS R, CAST(sum(ct) AS BIGINT) AS T FROM bc
), model AS (
  SELECT b, CAST(round(ln(((ct + 1.0) / (T + 2048))
                        / ((cr + 1.0) / (R + 2048))) * 1000000, 0)
                 AS BIGINT) AS q
  FROM bc CROSS JOIN tot
), dw AS (
  SELECT doc_id AS id, CAST(sum(m) AS BIGINT) AS n_feats,
         CAST(sum(m * q) AS BIGINT) AS w_micro
  FROM feats JOIN model USING (b) GROUP BY 1
), keyed AS (
  SELECT id, n_feats, w_micro,
    w_micro + CAST(round(-ln(-ln(
      (CAST(concat('0x', substr(md5('dsir' || CAST(id AS VARCHAR)), 1, 15))
            AS BIGINT) + 1) / 1152921504606846976.0)) * 1000000, 0)
      AS BIGINT) AS key
  FROM dw
), r AS (
  SELECT id, n_feats, w_micro,
         row_number() OVER (ORDER BY key DESC, id ASC) AS rank
  FROM keyed
)
SELECT id, n_feats, w_micro, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 100
"""


def training_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "gopher_quality_flags": _q_gopher_quality,
        "containment_dedup": _q_containment,
        "bigram_logprob_scores": _q_bigram_logprob,
        "exact_dedup_documents": _q_exact_dedup,
        "incremental_dedup_shard": _q_incremental_dedup,
        "incremental_minhash_shard": _q_incremental_minhash,
        "minhash_lsh_dedup": _q_minhash_lsh,
        "exact_substr_dedup": _q_exact_substr,
        "ngram_jaccard_dedup": _q_ngram_jaccard,
        "ppjoin_jaccard_dedup": _q_ppjoin_jaccard,
        "simhash_dedup": _q_simhash,
        "embedding_neardup_cosine": _q_embedding_neardup,
        "ann_brute_cosine_topk": _q_ann_brute_topk,
        "sq8_topk_cosine": _q_sq8_topk,
        "semantic_decontam_flags": _q_semantic_decontam,
        "ann_lsh_cosine_topk": _q_ann_lsh_topk,
        "ann_ivf_cosine_topk": _q_ann_ivf_topk,
        "ann_ivf_index_topk": _q_ann_ivf_index_topk,
        "pq_encode_codes": _q_pq_encode,
        "pq_adc_cosine_topk": _q_pq_adc_topk,
        "ivf_pq_adc_topk": _q_ivf_pq_topk,
        "ivf_pq_refine_topk": _q_ivf_pq_refine_topk,
        "ivf_pq_index_topk": _q_ivf_pq_index_topk,
        "ivf_pq_index_extend_topk": _q_ivf_pq_index_extend_topk,
        "stream_ivfpq_extend_replay": _q_stream_ivfpq_extend,
        "ivf_pq_residual_topk": _q_ivf_pq_residual,
        "semantic_dedup_pairs": _q_semantic_dedup,
        "token_stats": _q_token_stats,
        "repetition_stats": _q_repetition,
        "ngram_decontam": _q_decontam,
        "ngram_novelty_scores": _q_ngram_novelty,
        "bloom_decontam": _q_bloom_decontam,
        "curation_funnel": _q_curation_funnel,
        "bm25_topk_terms": _q_bm25,
        "rrf_hybrid_topk": _q_rrf_hybrid,
        "token_doc_freq": _q_token_doc_freq,
        "pack_sequences_global": _q_pack_global,
        "pack_sequences_sharded": _q_pack_sharded,
        "domain_cap_top3": _q_domain_cap,
        "unigram_logprob_scores": _q_unigram_logprob,
        "quality_scores": _q_quality,
        "langid_confusion": _q_langid,
        "doc_fingerprints": _q_fingerprints,
        "binary_payload_stats": _q_payload_stats,
        "byte_entropy_features": _q_byte_features,
        "decode_image_meta": _q_decode_image_meta,
        "decode_av_meta": _q_decode_av_meta,
        "hash_split_documents": _q_hash_split,
        "stratified_sample_lang": _q_stratified_sample,
        "upsample_epochs_mixture": _q_upsample_epochs,
        "global_shuffle_documents": _q_global_shuffle,
        "export_train_shards": _q_export_shards,
        "weighted_sample_quality": _q_weighted_sample,
        "dsir_resample_en": _q_dsir_resample,
        "embedding_quantize_int8": _q_quantize_int8,
        "dedup_cluster_keep": _q_cluster_keep,
        "embedding_gram_exact": _q_gram_exact,
        "bpe_train_merges": _q_bpe_train,
        "bpe_encode_tokens": _q_bpe_encode,
    }


def training_oracle_sql() -> dict[str, str]:
    bpe = T.BPE_TOKEN_PATTERN
    punct = T.PUNCT_PATTERN
    extra = {
        "gopher_quality_flags": _GOPHER_SQL,
        "containment_dedup": _containment_sql(5, 0.5),
        "bigram_logprob_scores": _BIGRAM_LM_SQL,
    }
    stop = T.STOPWORD_PATTERN
    norm = _NORM.format(x="text")
    return {
        **extra,
        "exact_dedup_documents": (
            f"SELECT md5({norm}) AS fingerprint, count(*) AS n_docs, "
            "min(doc_id) AS canonical_id FROM documents GROUP BY 1"
        ),
        "incremental_dedup_shard": f"""
            WITH corpus AS (
              SELECT DISTINCT md5({norm}) AS fingerprint
              FROM documents WHERE doc_id < 300
            ), shard AS (
              SELECT doc_id AS id, md5({norm}) AS fingerprint
              FROM documents WHERE doc_id >= 300
              UNION ALL
              SELECT doc_id + 10000, md5({norm})
              FROM documents WHERE doc_id < 100
            ), firsts AS (
              SELECT fingerprint, min(id) AS id, count(*) AS n_shard_dups
              FROM shard GROUP BY 1
            )
            SELECT id, fingerprint, n_shard_dups FROM firsts
            WHERE fingerprint NOT IN (SELECT fingerprint FROM corpus)
        """,
        "incremental_minhash_shard": _incr_minhash_sql(5, 8),
        "bm25_topk_terms": _bm25_sql(15),
        "rrf_hybrid_topk": _rrf_sql(),
        "minhash_lsh_dedup": _minhash_lsh_sql(5, 0.7),
        "exact_substr_dedup": _EXACT_SUBSTR_SQL,
        "ngram_jaccard_dedup": _ngram_jaccard_sql(5, 0.7),
        # the prefix filter is exact-complete, so the oracle is the SAME
        # brute inverted-index SQL at the ppjoin query's threshold
        "ppjoin_jaccard_dedup": _ngram_jaccard_sql(5, 0.6),
        "simhash_dedup": _simhash_sql(3),
        "embedding_neardup_cosine": _neardup_cos_sql(0.4),
        "ann_brute_cosine_topk": _topk_sql(10, 100),
        "sq8_topk_cosine": _SQ8_TOPK_SQL,
        "semantic_decontam_flags": _SEMANTIC_DECONTAM_SQL,
        "ann_lsh_cosine_topk": _lsh_sql(8, 10, 100),
        "ann_ivf_cosine_topk": _ivf_sql(8, 2, 10, 100),
        "ann_ivf_index_topk": _ivf_sql(8, 2, 10, 100),
        "pq_encode_codes": _pq_encode_sql(),
        "pq_adc_cosine_topk": _pq_adc_sql(10, 100),
        "ivf_pq_adc_topk": _ivf_pq_sql(8, 2, 10, 100),
        "ivf_pq_refine_topk": _ivf_pq_sql(8, 2, 10, 100, refine_factor=4),
        "ivf_pq_index_topk": _ivf_pq_sql(8, 2, 10, 100),
        "ivf_pq_index_extend_topk": _ivf_pq_sql(8, 2, 10, 100),
        "stream_ivfpq_extend_replay": _ivf_pq_sql(8, 2, 10, 100),
        "ivf_pq_residual_topk": _ivf_pq_sql(8, 2, 10, 100, residual=True),
        "semantic_dedup_pairs": _semantic_dedup_sql(8, 0.4),
        "token_stats": (
            "SELECT doc_id AS id, "
            "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens, "
            f"CAST(len(regexp_extract_all(text, '{bpe}')) AS BIGINT) AS n_bpe_tokens "
            "FROM documents"
        ),
        # unigram/bigram multiplicities via unnest→GROUP BY; Spark computes
        # the same counts row-locally (longest sorted run).  All fractions
        # are BIGINT/BIGINT IEEE division with identical operand order.
        "repetition_stats": f"""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
         {_shingles_sql('text', 2)} AS bg
  FROM documents
), uni AS (
  SELECT doc_id, wd, count(*) AS c
  FROM (SELECT doc_id, unnest(w) AS wd FROM base) GROUP BY 1, 2
), au AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_distinct_words,
         CAST(max(c) AS BIGINT) AS top_word_cnt
  FROM uni GROUP BY 1
), bi AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest(bg) AS g FROM base) GROUP BY 1, 2
), ab AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         CAST(max(c) AS BIGINT) AS top_bigram_cnt
  FROM bi GROUP BY 1
)
SELECT au.doc_id, n_words, n_distinct_words, top_word_cnt,
       (n_words - n_distinct_words) / n_words AS dup_word_frac,
       top_word_cnt / n_words AS top_word_frac,
       n_bigrams, top_bigram_cnt,
       top_bigram_cnt / n_bigrams AS top_bigram_frac
FROM au JOIN ab USING (doc_id)
""",
        "ngram_decontam": _decontam_sql(),
        "ngram_novelty_scores": _novelty_sql(),
        # the Bloom prefilter is exact-by-construction: same oracle
        "bloom_decontam": _decontam_sql(),
        "curation_funnel": _funnel_sql(),
        # (id, token) pre-aggregate mirror of curation._doc_tokens; every
        # count is BIGINT and the only float (avg_logprob) is one IEEE
        # division of identical integer operands.
        "token_doc_freq": """
WITH dt AS (
  SELECT doc_id, token, count(*) AS m
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents)
  GROUP BY 1, 2
)
SELECT token, CAST(count(*) AS BIGINT) AS doc_freq,
       CAST(sum(m) AS BIGINT) AS total_freq
FROM dt GROUP BY 1
ORDER BY doc_freq DESC, total_freq DESC, token ASC
LIMIT 20
""",
        # DuckDB's global window cumsum IS the single-partition plan the
        # Spark operator avoids (two-pass prefix scan); values must agree.
        "pack_sequences_global": """
WITH t AS (
  SELECT doc_id AS id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT id, n_tokens,
         sum(n_tokens) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING) AS cumsum
  FROM t
)
SELECT id, n_tokens, CAST(cumsum - n_tokens AS BIGINT) AS start_offset,
       CAST(floor((cumsum - n_tokens) / 512) AS BIGINT) AS seq_id
FROM c
""",
        "pack_sequences_sharded": """
WITH t AS (
  SELECT doc_id AS id, source AS shard,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY id
                             ROWS UNBOUNDED PRECEDING) AS cumsum
  FROM t
)
SELECT id, shard, n_tokens, CAST(cumsum - n_tokens AS BIGINT) AS start_offset,
       CAST(floor((cumsum - n_tokens) / 512) AS BIGINT) AS seq_id
FROM c
""",
        "domain_cap_top3": """
SELECT doc_id AS id, source AS domain, n_chars, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rank
  FROM documents
)
WHERE rank <= 3
""",
        # per-vocab-entry ln quantized to scaled BIGINT (q), then pure
        # integer per-doc sums — order-independent, immune to the JVM/libm
        # 1-ulp ln divergence at the token-stream scale.
        "unigram_logprob_scores": """
WITH dt AS (
  SELECT doc_id, token, count(*) AS m
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents)
  GROUP BY 1, 2
), v AS (
  SELECT token, CAST(sum(m) AS BIGINT) AS cnt FROM dt GROUP BY 1
), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
vq AS (
  SELECT token, CAST(round(ln(cnt / total) * 1000000, 0) AS BIGINT) AS q
  FROM v, tot
)
SELECT doc_id AS id, CAST(sum(m) AS BIGINT) AS n_tokens,
       CAST(sum(m * q) AS BIGINT) AS sum_logp_q,
       CAST(sum(m * q) AS BIGINT) / (1000000 * CAST(sum(m) AS BIGINT))
         AS avg_logprob
FROM dt JOIN vq USING (token)
GROUP BY 1
""",
        "quality_scores": (
            "SELECT doc_id AS id, CAST(length(text) AS BIGINT) AS n_chars_m, "
            "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words, "
            f"CAST(len(regexp_extract_all(text, '{punct}')) AS BIGINT) AS n_punct, "
            f"CAST(len(regexp_extract_all(text, '{stop}')) AS BIGINT) AS n_stop, "
            f"len(regexp_extract_all(text, '{stop}')) / len(string_split_regex(trim(text), '\\s+')) AS stop_ratio, "
            f"len(regexp_extract_all(text, '{punct}')) / length(text) AS punct_ratio, "
            f"(len(regexp_extract_all(text, '{stop}')) / len(string_split_regex(trim(text), '\\s+'))) * 0.5 "
            "+ (least(len(string_split_regex(trim(text), '\\s+')), 500) / 500) * 0.3 "
            f"- (len(regexp_extract_all(text, '{punct}')) / length(text)) * 0.2 AS quality "
            "FROM documents"
        ),
        "langid_confusion": (
            f"SELECT lang AS label_lang, {_lang_case_sql()} AS pred_lang, "
            "count(*) AS n_docs FROM documents GROUP BY 1, 2"
        ),
        "doc_fingerprints": (
            f"SELECT doc_id AS id, md5({norm}) AS fp_md5, "
            f"list_min({_shingle_hashes_sql('text', 3)}) AS fp_minshingle, "
            + _H32.format(x=f"substr({norm}, 1, 64)")
            + " AS fp_prefix FROM documents"
        ),
        "binary_payload_stats": (
            "SELECT source, count(*) AS n_docs, "
            "CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes, "
            "CAST(min(ascii(substr(text, 1, 1))) AS BIGINT) AS min_first_byte, "
            "CAST(max(ascii(substr(text, 1, 1))) AS BIGINT) AS max_first_byte "
            "FROM documents GROUP BY source"
        ),
        # documents.text is ASCII (verified at datagen), so chars == bytes and a
        # per-character histogram mirrors numpy's byte histogram exactly; both
        # sides quantize mean/entropy to 1e-6 to absorb fp summation order.
        "byte_entropy_features": """
WITH chars AS (
  SELECT doc_id AS id, unnest(split(text, '')) AS ch FROM documents
), hist AS (
  SELECT id, ch, count(*) AS c FROM chars GROUP BY 1, 2
), tot AS (
  SELECT doc_id AS id, CAST(octet_length(encode(text)) AS BIGINT) AS n,
         CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS fb
  FROM documents
)
SELECT t.id, t.n AS n_bytes, t.fb AS first_byte,
  CAST(round(sum(ascii(h.ch) * h.c) / t.n * 1000000, 0) AS BIGINT) / 1000000.0
    AS mean_byte,
  CAST(round(-sum((h.c / CAST(t.n AS DOUBLE)) * log2(h.c / CAST(t.n AS DOUBLE)))
       * 1000000, 0) AS BIGINT) / 1000000.0 AS entropy
FROM hist h JOIN tot t ON t.id = h.id
GROUP BY t.id, t.n, t.fb
""",
        # mirror of build_image_payload_bytes' parameter derivation: the
        # Spark side BUILDS real PNG/JPEG bytes from h32(doc_id) and PARSES
        # them back (two independent code paths); the oracle predicts the
        # same integers from the identical md5 hash formula.
        "decode_image_meta": """
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           AS h
  FROM documents
)
SELECT doc_id,
  CASE WHEN h%17=0 THEN NULL WHEN h%3=0 THEN 'png' ELSE 'jpeg' END AS format,
  CASE WHEN h%17=0 THEN NULL ELSE CAST(1 + h%4093 AS BIGINT) END AS width,
  CASE WHEN h%17=0 THEN NULL ELSE CAST(1 + h%2039 AS BIGINT) END AS height,
  CASE WHEN h%17=0 THEN NULL ELSE CAST(8 AS BIGINT) END AS bit_depth,
  CASE WHEN h%17=0 OR h%3<>0 THEN NULL
       ELSE CAST(([0,2,3,4,6])[CAST(h%5 AS INT) + 1] AS BIGINT)
  END AS color_type,
  CASE WHEN h%17=0 OR h%3=0 THEN NULL ELSE CAST(3 AS BIGINT)
  END AS n_components,
  CASE WHEN h%17=0 OR h%3=0 THEN NULL ELSE h%2=1 END AS progressive,
  CASE WHEN h%17=0 OR h%3<>0 THEN NULL ELSE h%2=1 END AS interlaced,
  CASE WHEN h%17=0 THEN NULL
       WHEN h%3<>0 AND h%4<>0 THEN CAST(1 + h%8 AS BIGINT)
       ELSE CAST(0 AS BIGINT)
  END AS orientation,
  CASE WHEN h%17=0 THEN 'truncated' END AS decode_error
FROM h
""",
        # mirror of build_av_payload_bytes' parameter derivation (the WAV
        # RIFF / MP4 mvhd analogue of the decode_image_meta oracle)
        "decode_av_meta": """
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           AS h
  FROM documents
)
SELECT doc_id,
  CASE WHEN h%13=0 THEN NULL WHEN h%2=0 THEN 'wav' ELSE 'mp4'
  END AS container,
  CASE WHEN h%13=0 OR h%2<>0 THEN NULL ELSE CAST(1 + h%3 AS BIGINT)
  END AS channels,
  CASE WHEN h%13=0 OR h%2<>0 THEN NULL
       ELSE CAST(([8000,16000,22050,44100,48000])[CAST(h%5 AS INT) + 1]
                 AS BIGINT)
  END AS sample_rate,
  CASE WHEN h%13=0 OR h%2<>0 THEN NULL
       ELSE CAST(([8,16,24,32])[CAST(h%4 AS INT) + 1] AS BIGINT)
  END AS bits_per_sample,
  CASE WHEN h%13=0 OR h%2<>0 THEN NULL ELSE CAST(1 + h%256 AS BIGINT)
  END AS n_samples,
  CASE WHEN h%13=0 OR h%2=0 THEN NULL
       WHEN h%3<>0 THEN 'isom' ELSE 'mp42'
  END AS brand,
  CASE WHEN h%13=0 OR h%2=0 THEN NULL
       ELSE CAST(([600,1000,90000,48000])[CAST(h%4 AS INT) + 1] AS BIGINT)
  END AS timescale,
  CASE WHEN h%13=0 OR h%2=0 THEN NULL ELSE CAST(h%1000000 AS BIGINT)
  END AS duration,
  CASE WHEN h%13=0 THEN NULL
       WHEN h%2=0 THEN CAST(
         ((1 + h%256) * 1000)
         // ([8000,16000,22050,44100,48000])[CAST(h%5 AS INT) + 1]
         AS BIGINT)
       ELSE CAST(
         ((h%1000000) * 1000)
         // ([600,1000,90000,48000])[CAST(h%4 AS INT) + 1] AS BIGINT)
  END AS duration_ms,
  CASE WHEN h%13=0 THEN 'truncated' END AS decode_error
FROM h
""",
        "hash_split_documents": (
            "SELECT doc_id AS id, CASE WHEN "
            + _BUCKET.format(seed="split", x="doc_id")
            + " < 800000 THEN 'train' WHEN "
            + _BUCKET.format(seed="split", x="doc_id")
            + " < 900000 THEN 'val' ELSE 'test' END AS split FROM documents"
        ),
        "stratified_sample_lang": (
            "SELECT doc_id AS id, lang FROM documents WHERE "
            + _BUCKET.format(seed="sample", x="doc_id")
            + " < CASE lang WHEN 'en' THEN 250000 WHEN 'zh' THEN 1000000 "
            "WHEN 'es' THEN 500000 ELSE 100000 END"
        ),
        "upsample_epochs_mixture": _UPSAMPLE_SQL,
        "weighted_sample_quality": _WEIGHTED_SAMPLE_SQL,
        "export_train_shards": _EXPORT_SHARDS_SQL,
        "dsir_resample_en": _DSIR_SQL,
        "global_shuffle_documents": (
            f"SELECT doc_id AS id, {_SHUFFLE_KEY} AS shuffle_key, "
            f"CAST(row_number() OVER (ORDER BY {_SHUFFLE_KEY}) AS BIGINT) "
            "AS shuffle_rank FROM documents"
        ),
        "embedding_quantize_int8": _QUANT_INT8_SQL,
        "embedding_gram_exact": _GRAM_EXACT_SQL,
        "dedup_cluster_keep": _cluster_keep_sql(),
    }
