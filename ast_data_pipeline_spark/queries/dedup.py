"""Deduplication query surface (north-star extensions): exact,
MinHash+LSH, SimHash, n-gram Jaccard — each oracle-replayed in DuckDB
with the same md5-based hashes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ast_data_pipeline_spark.lineage import lineage_cut_lazy

from ..operators.dedup import (
    char_ngrams,
    char_ngrams_sql,
    minhash_base_sql,
    minhash_hash_i_sql,
    minhash_neardup_compact,
    neardup_clusters_star,
    simhash32,
    simhash_pairs,
    word_shingles,
    word_shingles_sql,
    words_col,
)
from ..registry import register
from ..sources.catalog import load

NUM_HASHES = 12
# 4 bands of 3 (was 6 bands of 2 through r7). The r8 sf1 scale proof
# caught the r=2 config going quadratic: this corpus's background
# bigram-Jaccard sits near the 0.35 threshold, so 2-row bands collide
# on random pairs and candidates grew 100x (69k -> 7.0M) for 10x docs
# (max band bucket 64 -> 630). r=3 produces the IDENTICAL pair set at
# sf0.001/0.01/0.1 (verified exhaustively) and cuts sf1 wall 23 s ->
# 4.3 s; at sf1 it finds 276 of r=2's 308 pairs — the recall/cost
# trade the x_minhash_band_sweep query curves (93% vs 3.8% candidate
# precision). At 100 TB you would re-run that sweep per corpus and
# size rows-per-band so bucket occupancy stays O(1) per doc.
ROWS_PER_BAND = 3  # -> 4 bands
JACCARD_T = 0.35
MAX_HAMMING = 3
NGRAM_N = 3
NGRAM_T = 0.55


@register(
    "x_dedup_exact",
    oracle="""
SELECT min(doc_id)::BIGINT AS canonical_doc_id,
       count(*)::BIGINT AS n_copies,
       md5(lower(text)) AS content_hash
FROM documents
GROUP BY md5(lower(text))
""",
    doc="Exact dedup: hash(normalized text) groupBy; canonical row = min "
    "doc_id. One shuffle on the 128-bit hash — at 100 TB this is the "
    "standard first dedup pass.",
    tags=("dedup", "bench"),
)
def x_dedup_exact(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.lower("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("canonical_doc_id", "n_copies", "content_hash")
    )


def _minhash_ctes() -> str:
    b1, b2 = minhash_base_sql("shingle")
    mins = ",\n         ".join(
        f"min({minhash_hash_i_sql(i)}) AS h{i}" for i in range(NUM_HASHES)
    )
    n_bands = NUM_HASHES // ROWS_PER_BAND
    band_exprs = ", ".join(
        "("
        + " || '|' || ".join(
            f"h{b * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND)
        )
        + ")"
        for b in range(n_bands)
    )
    return f"""docsets AS (
  SELECT doc_id, {word_shingles_sql('text', 2)} AS shingles
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
  WHERE len(w) >= 2
),
exploded AS (
  SELECT doc_id, {b1} AS _mh1, {b2} AS _mh2
  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM docsets)
),
sig AS (SELECT doc_id, {mins} FROM exploded GROUP BY doc_id),
bands AS (
  SELECT doc_id, band_id - 1 AS band_id, bandvals[band_id] AS band_val
  FROM (SELECT doc_id, [{band_exprs}] AS bandvals FROM sig),
       unnest(generate_series(1, {n_bands})) t(band_id)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b,
         len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
         / len(list_distinct(list_concat(sa.shingles, sb.shingles)))::DOUBLE AS jaccard
  FROM cand JOIN docsets sa ON cand.doc_a = sa.doc_id
            JOIN docsets sb ON cand.doc_b = sb.doc_id
  WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
        / len(list_distinct(list_concat(sa.shingles, sb.shingles)))::DOUBLE >= {JACCARD_T}
)"""


def _minhash_oracle() -> str:
    return f"WITH {_minhash_ctes()}\nSELECT doc_a, doc_b, jaccard FROM pairs"


@register(
    "x_minhash_lsh_neardup",
    oracle=_minhash_oracle(),
    doc="MinHash+LSH near-dup: word-bigram shingles -> 12 double-hashed "
    "32-bit minhashes (ONE md5 per shingle, Kirsch-Mitzenmacher "
    "h1+i*(2*h2+1) strides) -> 4 bands of 3 (see the ROWS_PER_BAND "
    "note) -> bucket self-join candidates -> exact-Jaccard verify on "
    "candidates only. Shuffles: shingle agg + band join — never the "
    "full O(n^2) pair space.",
    tags=("dedup", "bench"),
)
def x_minhash_lsh_neardup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").withColumn("w", words_col(F.col("text")))
    docsets = (
        docs.filter(F.size("w") >= 2)
        .select("doc_id", word_shingles("w", 2))
    )
    return minhash_neardup_compact(docsets, NUM_HASHES, ROWS_PER_BAND, JACCARD_T)


@register(
    "x_lsh_bucket_stats",
    # Only the CTEs through `bands` are referenced; DuckDB leaves the
    # unreferenced cand/pairs CTEs unevaluated.
    oracle=f"""
WITH {_minhash_ctes()},
occ AS (
  SELECT band_id, band_val, count(*)::BIGINT AS s
  FROM bands GROUP BY 1, 2
)
SELECT band_id::INT AS band_id,
       count(*)::BIGINT AS n_buckets,
       max(s)::BIGINT AS max_bucket,
       sum(s * (s - 1) / 2)::BIGINT AS candidate_pairs,
       sum(CASE WHEN s > 100 THEN s * (s - 1) / 2 ELSE 0 END)::BIGINT
         AS pairs_from_hot_buckets
FROM occ GROUP BY band_id
""",
    doc="LSH band-bucket occupancy health: per band, the bucket count, "
    "max bucket size, implied candidate pairs (sum of s*(s-1)/2 over "
    "buckets), and the share of pairs coming from hot (>100-doc) "
    "buckets. This is the metric that catches a banding config going "
    "quadratic BEFORE the verify stage pays for it (the r13 curation "
    "profile found 3.1M of 6.5M candidate pairs hiding in >100-doc "
    "buckets under 2-row bands; see tools/profile_curation.py and "
    "SCALING.md r13) — at 100 TB this query runs per corpus to size "
    "rows-per-band so bucket occupancy stays O(1) per doc. Pure "
    "groupBy chain over the band frame: two shuffles, output rows = "
    "band count.",
    tags=("dedup",),
)
def x_lsh_bucket_stats(spark, sf_dir):
    from ..operators.dedup import lsh_bands, minhash_signatures

    docs = load(spark, sf_dir, "documents").withColumn("w", words_col(F.col("text")))
    docsets = docs.filter(F.size("w") >= 2).select("doc_id", word_shingles("w", 2))
    exploded = docsets.select("doc_id", F.explode("shingles").alias("shingle"))
    sig = minhash_signatures(exploded, NUM_HASHES)
    bands = lsh_bands(sig, NUM_HASHES, ROWS_PER_BAND)
    occ = bands.groupBy("band_id", "band_val").agg(F.count(F.lit(1)).alias("s"))
    # s*(s-1) is even and < 2^52, so the double division is exact
    pair_cnt = (F.col("s") * (F.col("s") - 1) / 2).cast("long")
    return occ.groupBy(F.col("band_id").cast("int").alias("band_id")).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("s").alias("max_bucket"),
        F.sum(pair_cnt).alias("candidate_pairs"),
        F.sum(
            F.when(F.col("s") > 100, pair_cnt).otherwise(F.lit(0).cast("long"))
        ).alias("pairs_from_hot_buckets"),
    )


def _cc_ctes() -> str:
    """Recursive transitive closure over the MinHash pair graph, down
    to ``lbl(id, comp)`` = doc -> min-reachable-doc cluster label."""
    return f"""{_minhash_ctes()},
nodes AS (SELECT doc_a AS id FROM pairs UNION SELECT doc_b FROM pairs),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
cc(id, comp) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, cc.comp FROM cc JOIN edges e ON cc.id = e.src WHERE cc.comp < e.dst
),
lbl AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id)"""


def _clusters_oracle() -> str:
    return f"""WITH RECURSIVE {_cc_ctes()},
sizes AS (SELECT comp, count(*) AS n FROM lbl GROUP BY comp)
SELECT lbl.id::BIGINT AS doc_id, lbl.comp::BIGINT AS cluster_id,
       sizes.n::BIGINT AS n_cluster_docs, (lbl.id = lbl.comp) AS is_canonical
FROM lbl JOIN sizes ON lbl.comp = sizes.comp"""


@register(
    "x_dedup_clusters",
    oracle=_clusters_oracle(),
    doc="Near-dup clustering: connected components over the MinHash+LSH "
    "pair graph via alternating large-star/small-star rounds "
    "(operators/dedup.neardup_clusters_star, Kiveris et al. SoCC'14; "
    "O(log n) rounds whatever the component diameter) -> cluster id = "
    "min reachable doc_id, cluster sizes, and the canonical flag that "
    "turns pairwise detection into a dedup decision. Oracle: the same "
    "pair CTEs extended with a recursive-CTE transitive closure.",
    tags=("dedup", "extension"),
)
def x_dedup_clusters(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").withColumn("w", words_col(F.col("text")))
    docsets = (
        docs.filter(F.size("w") >= 2)
        .select("doc_id", word_shingles("w", 2))
    )
    pairs = minhash_neardup_compact(docsets, NUM_HASHES, ROWS_PER_BAND, JACCARD_T)
    return neardup_clusters_star(pairs)


def _simhash_oracle() -> str:
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(32)
    )
    sig_expr = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN {2**j} ELSE 0 END)" for j in range(32)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
),
sums AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id),
sig AS (SELECT doc_id, ({sig_expr})::BIGINT AS simhash FROM sums),
banded AS (
  SELECT doc_id, simhash, b AS byte_id, (simhash >> (8 * b)) & 255 AS byte_val
  FROM sig, unnest([0, 1, 2, 3]) t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sig_a, b.simhash AS sig_b
  FROM banded a JOIN banded b
    ON a.byte_id = b.byte_id AND a.byte_val = b.byte_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b))::INT AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= {MAX_HAMMING}
"""


@register(
    "x_simhash_neardup",
    oracle=_simhash_oracle(),
    doc="SimHash near-dup: 32-bit per-token md5 hash -> per-bit majority "
    "vote -> byte banding (pigeonhole: hamming<=3 pairs share a byte) -> "
    "bit_count(xor) verify.",
    tags=("dedup",),
)
def x_simhash_neardup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    sig = simhash32(toks)
    return simhash_pairs(sig, MAX_HAMMING).withColumn(
        "hamming", F.col("hamming").cast("int")
    )


def _curation_ctes() -> str:
    """CTE chain scored..losers (no leading WITH, no final SELECT) —
    shared by the curation oracle and the training-assembly composite."""
    from ..operators.text import EN_STOPWORDS, hit_ratio_sql, punct_ratio_sql

    b1, b2 = minhash_base_sql("shingle")
    mins = ",\n         ".join(
        f"min({minhash_hash_i_sql(i)}) AS h{i}" for i in range(NUM_HASHES)
    )
    n_bands = NUM_HASHES // ROWS_PER_BAND
    band_exprs = ", ".join(
        "("
        + " || '|' || ".join(
            f"h{b * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND)
        )
        + ")"
        for b in range(n_bands)
    )
    stop = hit_ratio_sql("w", EN_STOPWORDS)
    punct = punct_ratio_sql("text")
    quality = (
        f"(CASE WHEN len(w) >= 20 AND len(w) <= 400 THEN 1.0 ELSE 0.0 END) * 0.4"
        f" + least({stop} * 2.0, 1.0) * 0.4"
        f" + (1.0 - least({punct} * 10.0, 1.0)) * 0.2"
    )
    return f"""scored AS (
  SELECT doc_id, lang, source, text, w,
         {quality} AS quality_score,
         len(w)::BIGINT AS n_tokens
  FROM (SELECT *, string_split(lower(text), ' ') AS w FROM documents)
),
q AS (SELECT * FROM scored WHERE quality_score >= 0.5),
exact AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn
    FROM q
  ) WHERE rn = 1
),
docsets AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1])) AS shingles
  FROM exact WHERE len(w) >= 2
),
exploded AS (
  SELECT doc_id, {b1} AS _mh1, {b2} AS _mh2
  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM docsets)
),
sig AS (SELECT doc_id, {mins} FROM exploded GROUP BY doc_id),
bands AS (
  SELECT doc_id, band_id - 1 AS band_id, bandvals[band_id] AS band_val
  FROM (SELECT doc_id, [{band_exprs}] AS bandvals FROM sig),
       unnest(generate_series(1, {n_bands})) t(band_id)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
losers AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM cand JOIN docsets sa ON cand.doc_a = sa.doc_id
            JOIN docsets sb ON cand.doc_b = sb.doc_id
  WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
        / len(list_distinct(list_concat(sa.shingles, sb.shingles)))::DOUBLE >= 0.5
)"""


def _curation_oracle() -> str:
    return f"""
WITH {_curation_ctes()}
SELECT doc_id, lang, source, quality_score, n_tokens
FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM losers)
"""


@register(
    "x_curation_pipeline",
    oracle=_curation_oracle(),
    doc="End-to-end training-data curation (the extension-side "
    "flagship): quality gate (Gopher/C4-style score >= 0.5) -> exact "
    "dedup keep-min-id -> MinHash/LSH near-dup drop (greedy keep-lowest "
    "within verified Jaccard >= 0.5 pairs). Every stage shuffle-bounded.",
    tags=("dedup", "text", "pipeline", "bench"),
)
def x_curation_pipeline(spark, sf_dir):
    from ..plans.curation import curate

    return curate(spark, load(spark, sf_dir, "documents"))


@register(
    "x_ngram_jaccard",
    oracle=f"""
WITH g AS (
  SELECT doc_id, lang, source, {char_ngrams_sql(NGRAM_N)} AS grams
  FROM (SELECT doc_id, lang, source, lower(text) AS t FROM documents)
),
e AS (
  SELECT doc_id, lang, source, unnest(grams) AS gram FROM g
),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS c
  FROM e a JOIN e b
    ON a.lang = b.lang AND a.source = b.source AND a.gram = b.gram
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       c::DOUBLE / (sa.n + sb.n - c) AS jaccard
FROM common
JOIN (SELECT doc_id, len(grams)::BIGINT AS n FROM g) sa ON sa.doc_id = doc_a
JOIN (SELECT doc_id, len(grams)::BIGINT AS n FROM g) sb ON sb.doc_id = doc_b
WHERE c::DOUBLE / (sa.n + sb.n - c) >= {NGRAM_T}
""",
    doc="Character 3-gram Jaccard near-dup within (lang, source) "
    "buckets, in the sparse-vector-join form: explode to (doc, gram), "
    "equi-join on (bucket, gram), count common grams per pair, then "
    "|A∪B| = |A|+|B|-common — set sizes are exact ints, one IEEE "
    "division. No per-pair array intersect/union (the naive form "
    "built two hash sets per candidate pair and was 10x slower at "
    "sf0.1); the join/aggregate stays in whole-stage codegen and "
    "shuffles on (bucket, gram) — the pair space is per-bucket, "
    "never global.",
    tags=("dedup",),
)
def x_ngram_jaccard(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").withColumn("t", F.lower("text"))
    g = docs.select(
        "doc_id", "lang", "source", char_ngrams(F.col("t"), NGRAM_N).alias("grams")
    )
    sizes = g.select("doc_id", F.size("grams").cast("long").alias("n"))
    e = g.select("doc_id", "lang", "source", F.explode("grams").alias("gram"))
    a, b = e.alias("a"), e.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= NGRAM_T)
        .select("doc_a", "doc_b", "jaccard")
    )


@register(
    "x_fuzzy_match",
    oracle="""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(substr(a.text, 1, 30), substr(b.text, 1, 30))::INT AS dist
FROM documents a JOIN documents b
  ON a.source = b.source AND a.doc_id < b.doc_id
WHERE levenshtein(substr(a.text, 1, 30), substr(b.text, 1, 30)) <= 12
""",
    doc="Blocked fuzzy matching: candidate pairs blocked on source "
    "(the standard record-linkage blocking step bounding the pair "
    "space), verified by edit distance on a 30-char prefix key. "
    "levenshtein is the classic DP in both engines -> identical ints.",
    tags=("dedup", "extension"),
)
def x_fuzzy_match(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.substring("text", 1, 30).alias("pfx")
    )
    a, b = docs.alias("a"), docs.alias("b")
    dist = F.levenshtein(F.col("a.pfx"), F.col("b.pfx"))
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= 12)
    )


@register(
    "x_dedup_transitivity",
    oracle=f"""WITH {_minhash_ctes()},
e AS (SELECT DISTINCT doc_a AS u, doc_b AS v FROM pairs),
nodes AS (SELECT u AS node FROM e UNION ALL SELECT v FROM e),
deg AS (SELECT node, count(*)::BIGINT AS d FROM nodes GROUP BY node),
tri AS (
  SELECT count(*)::BIGINT AS t
  FROM e ab JOIN e bc ON ab.v = bc.u
            JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
),
wed AS (SELECT sum(d * (d - 1) // 2)::BIGINT AS w FROM deg)
SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
       (SELECT count(*) FROM e)::BIGINT AS n_edges,
       wed.w AS n_wedges, tri.t AS n_triangles,
       CASE WHEN wed.w > 0 THEN (3 * tri.t)::DOUBLE / wed.w ELSE 0.0 END
         AS transitivity
FROM tri, wed
""",
    doc="Dedup-graph transitivity: triangle count + global clustering "
    "coefficient over the MinHash near-dup pair graph — the quality "
    "diagnostic that distinguishes clique-like clusters (true "
    "duplicate groups) from chains (threshold too loose; transitive "
    "closure would over-merge). Triangles are counted with the "
    "degree-ordered ORIENTATION algorithm (each edge directed toward "
    "the higher (degree, id); wedges enumerated only from each "
    "triangle's minimum node, so out-degrees are bounded by "
    "sqrt(2m) and the wedge join never explodes on hubs — the "
    "MapReduce-standard trick, NOT the naive 3-cycle join the tiny "
    "DuckDB twin uses). All-integer counts; one int division.",
    tags=("dedup", "graph", "extension"),
)
def x_dedup_transitivity(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").withColumn("w", words_col(F.col("text")))
    docsets = (
        docs.filter(F.size("w") >= 2)
        .select("doc_id", word_shingles("w", 2))
    )
    e = (
        minhash_neardup_compact(docsets, NUM_HASHES, ROWS_PER_BAND, JACCARD_T)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .distinct()
        .transform(lineage_cut_lazy)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dst_d"),
    ).transform(lineage_cut_lazy)
    o1 = oriented.select("src", F.col("dst").alias("b"), F.col("dst_d").alias("bd"))
    o2 = oriented.select("src", F.col("dst").alias("c"), F.col("dst_d").alias("cd"))
    wedges = o1.join(o2, "src").filter(
        (F.col("bd") < F.col("cd"))
        | ((F.col("bd") == F.col("cd")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                (3 * F.col("n_triangles")).cast("double") / F.col("n_wedges"),
            )
            .otherwise(F.lit(0.0))
            .alias("transitivity"),
        )
    )


SPAN_K = 8  # words per span (Lee et al. use 50 BPE tokens; 8 words ~ same scale)


@register(
    "x_span_dedup",
    # Exact duplicated-SPAN detection (the substring-dedup measure of
    # "Deduplicating Training Data Makes Language Models Better", Lee
    # et al. 2022): every k-word sliding window that occurs in >= 2
    # distinct documents. Complements x_line_dedup (newline-delimited
    # exact lines) and the MinHash/SimHash family (whole-doc near-dup)
    # by catching copied passages that cross line boundaries.
    oracle=f"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
p AS (
  SELECT doc_id, unnest(range(1, len(ws) - {SPAN_K - 2})) AS i, ws
  FROM w WHERE len(ws) >= {SPAN_K}
),
s AS (
  SELECT doc_id, array_to_string(ws[i:i + {SPAN_K - 1}], ' ') AS span
  FROM p
)
SELECT span,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_occurrences,
       min(doc_id) AS first_doc
FROM s
GROUP BY span
HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occurrences DESC, span
LIMIT 100
""",
    doc=f"Exact duplicated {SPAN_K}-word spans across documents "
    "(cross-doc copied passages), top-100 by spread. Shuffles on the "
    "span key only — two-phase because of the distinct-doc count "
    "((span, doc_id) partial, then span); at 100 TB you would group "
    "on xxhash64(span) and "
    "carry (hash, first 32 chars) instead of the full string — noted "
    "in the plan, and the string key is used here so the oracle can "
    "replay it verbatim. The unique ORDER chain ends on the span "
    "itself, so the LIMIT is deterministic.",
    tags=("dedup", "text", "extension"),
)
def x_span_dedup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    spans = (
        docs.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= SPAN_K)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - (SPAN_K - 1)),
                    lambda i: F.array_join(
                        F.slice(F.col("ws"), i, SPAN_K), " "
                    ),
                )
            ).alias("span"),
        )
    )
    return (
        spans.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occurrences").desc(), "span"
        )
        .limit(100)
    )


@register(
    "x_substring_dedup_census",
    # ExactSubstr dedup, the REMOVAL side (Lee et al. 2022 §4:
    # "Deduplicating Training Data Makes Language Models Better"):
    # x_span_dedup only LISTS cross-doc duplicated k-word spans; this
    # query actually marks every non-canonical occurrence for removal
    # (canonical = first by (doc_id, position) per span), merges each
    # doc's overlapping removal windows into maximal intervals
    # (gaps-and-islands on the position axis, partitioned by doc), and
    # reports the cleaned-corpus census per source: how many words the
    # dedup pass would delete and in how many contiguous cut regions.
    # All integer arithmetic until the final rate division.
    oracle=f"""
WITH w AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(text, '\\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
doc_words AS (SELECT doc_id, source, len(ws)::BIGINT AS n_words FROM w),
p AS (
  SELECT doc_id, unnest(range(1, len(ws) - {SPAN_K - 2})) AS i, ws
  FROM w WHERE len(ws) >= {SPAN_K}
),
s AS (
  SELECT doc_id, i, array_to_string(ws[i:i + {SPAN_K - 1}], ' ') AS span
  FROM p
),
dup AS (
  SELECT span FROM s GROUP BY span HAVING count(DISTINCT doc_id) >= 2
),
occ AS (
  SELECT s.doc_id, s.i,
         row_number() OVER (PARTITION BY s.span
                            ORDER BY s.doc_id, s.i) AS rn
  FROM s JOIN dup USING (span)
),
removable AS (SELECT doc_id, i FROM occ WHERE rn >= 2),
merged AS (
  SELECT doc_id, i,
         max(i) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_i
  FROM removable
),
contrib AS (
  SELECT doc_id,
         greatest(0, (i + {SPAN_K - 1})
                     - greatest(coalesce(prev_i + {SPAN_K - 1}, 0), i - 1))
           AS covered,
         CASE WHEN prev_i IS NULL OR prev_i + {SPAN_K - 1} < i
              THEN 1 ELSE 0 END AS new_island
  FROM merged
),
per_doc AS (
  SELECT doc_id, sum(covered)::BIGINT AS removed_words,
         sum(new_island)::BIGINT AS n_intervals
  FROM contrib GROUP BY doc_id
)
SELECT d.source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN pd.removed_words IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_docs_affected,
       sum(d.n_words)::BIGINT AS total_words,
       coalesce(sum(pd.removed_words), 0)::BIGINT AS removed_words,
       coalesce(sum(pd.n_intervals), 0)::BIGINT AS n_removal_intervals,
       coalesce(sum(pd.removed_words), 0)::DOUBLE / sum(d.n_words)
         AS removal_rate
FROM doc_words d LEFT JOIN per_doc pd USING (doc_id)
GROUP BY d.source
""",
    doc=f"ExactSubstr removal census (Lee et al. §4): every cross-doc "
    f"duplicated {SPAN_K}-word span keeps ONE canonical occurrence "
    "(first by (doc_id, position) under a span-partitioned "
    "row_number) and marks the rest for deletion; each doc's removal "
    "windows merge into maximal intervals with a doc-partitioned "
    "running-max window (equal-length intervals, so prev-max start "
    "is prev-max end). Per-source output: docs touched, words "
    "deleted, contiguous cut regions, removal rate. Shuffles on span "
    "then doc_id — both high-cardinality keys; nothing global.",
    tags=("dedup", "text", "extension"),
)
def x_substring_dedup_census(spark, sf_dir):
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    base = docs.select("doc_id", "source", ws.alias("ws"))
    doc_words = base.select(
        "doc_id", "source", F.size("ws").cast("long").alias("n_words")
    )
    spans = (
        base.filter(F.size("ws") >= SPAN_K)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - (SPAN_K - 1)),
                    lambda i: F.struct(
                        i.alias("i"),
                        F.array_join(F.slice(F.col("ws"), i, SPAN_K), " ").alias(
                            "span"
                        ),
                    ),
                )
            ).alias("o"),
        )
        .select("doc_id", F.col("o.i").alias("i"), F.col("o.span").alias("span"))
    )
    dup = (
        spans.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("span")
    )
    w_span = Window.partitionBy("span").orderBy("doc_id", "i")
    removable = (
        spans.join(dup, "span")
        .withColumn("rn", F.row_number().over(w_span))
        .filter(F.col("rn") >= 2)
        .select("doc_id", "i")
    )
    w_doc = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = removable.withColumn("prev_i", F.max("i").over(w_doc))
    k1 = F.lit(SPAN_K - 1)
    covered = F.greatest(
        F.lit(0),
        (F.col("i") + k1)
        - F.greatest(F.coalesce(F.col("prev_i") + k1, F.lit(0)), F.col("i") - 1),
    )
    new_island = F.when(
        F.col("prev_i").isNull() | (F.col("prev_i") + k1 < F.col("i")), 1
    ).otherwise(0)
    per_doc = (
        merged.select("doc_id", covered.alias("covered"), new_island.alias("ni"))
        .groupBy("doc_id")
        .agg(
            F.sum("covered").cast("long").alias("removed_words"),
            F.sum("ni").cast("long").alias("n_intervals"),
        )
    )
    return (
        doc_words.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("removed_words").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_docs_affected"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.coalesce(F.sum("removed_words"), F.lit(0))
            .cast("long")
            .alias("removed_words"),
            F.coalesce(F.sum("n_intervals"), F.lit(0))
            .cast("long")
            .alias("n_removal_intervals"),
            (
                F.coalesce(F.sum("removed_words"), F.lit(0)).cast("double")
                / F.sum("n_words")
            ).alias("removal_rate"),
        )
    )


BLOOM_M = 131072  # bits (2^17), sized ~9 bits/item for the 4-shingle catalog
BLOOM_K = 3  # hash functions


@register(
    "x_bloom_dedup_screen",
    # Bloom-filter membership screen for incremental dedup (completes
    # the probabilistic-structure family: KMV / CMS / HLL / Bloom):
    # the catalog half of the corpus (even doc_id) sets K=3 md5-derived
    # bit positions per distinct 4-word shingle in an m=2^17-bit filter;
    # a new-batch shingle is "maybe seen" iff all 3 of its positions are
    # set. Bloom guarantees NO false negatives — every truly-shared
    # shingle must screen positive — and the query measures the actual
    # false-positive rate against the exact semi-join truth. All bit
    # positions are integer md5 arithmetic (hex prefix mod m), so both
    # engines build the identical filter.
    oracle=f"""
WITH cat AS (
  SELECT DISTINCT tok FROM (
    SELECT a[i - 3] || ' ' || a[i - 2] || ' ' || a[i - 1] || ' ' || a[i] AS tok
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS a
          FROM documents WHERE doc_id % 2 = 0),
         LATERAL unnest(generate_series(4, len(a))) t(i)
    WHERE a[i - 3] <> '' AND a[i - 2] <> '' AND a[i - 1] <> '' AND a[i] <> ''
  )
),
batch AS (
  SELECT DISTINCT source, tok FROM (
    SELECT source, a[i - 3] || ' ' || a[i - 2] || ' ' || a[i - 1] || ' ' || a[i] AS tok
    FROM (SELECT source, string_split(lower(text), ' ') AS a
          FROM documents WHERE doc_id % 2 = 1),
         LATERAL unnest(generate_series(4, len(a))) t(i)
    WHERE a[i - 3] <> '' AND a[i - 2] <> '' AND a[i - 1] <> '' AND a[i] <> ''
  )
),
bits AS (
  SELECT DISTINCT ('0x' || substr(md5(j::VARCHAR || '|' || tok), 1, 6))::INT
                    % {BLOOM_M} AS pos
  FROM cat, generate_series(1, {BLOOM_K}) s(j)
),
probe AS (
  SELECT b.source, b.tok,
         sum(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM (SELECT source, tok,
               ('0x' || substr(md5(j::VARCHAR || '|' || tok), 1, 6))::INT
                 % {BLOOM_M} AS pos
        FROM batch, generate_series(1, {BLOOM_K}) s(j)) b
  LEFT JOIN bits ON bits.pos = b.pos
  GROUP BY b.source, b.tok
),
truth AS (
  SELECT b.source, b.tok, 1 AS is_member
  FROM batch b JOIN cat c ON b.tok = c.tok
)
SELECT p.source,
       count(*)::BIGINT AS n_batch_toks,
       sum(CASE WHEN p.n_hit = {BLOOM_K} THEN 1 ELSE 0 END)::BIGINT AS n_maybe,
       sum(coalesce(t.is_member, 0))::BIGINT AS n_true_members,
       (sum(CASE WHEN p.n_hit = {BLOOM_K} THEN 1 ELSE 0 END)
        - sum(coalesce(t.is_member, 0)))::BIGINT AS n_false_pos,
       CASE WHEN count(*) - sum(coalesce(t.is_member, 0)) > 0
            THEN (sum(CASE WHEN p.n_hit = {BLOOM_K} THEN 1 ELSE 0 END)
                  - sum(coalesce(t.is_member, 0)))::DOUBLE
                 / (count(*) - sum(coalesce(t.is_member, 0)))
            ELSE NULL END AS fp_rate
FROM probe p
LEFT JOIN truth t ON t.source = p.source AND t.tok = p.tok
GROUP BY p.source
""",
    doc="Bloom-filter dedup screen: a 2^17-bit, 3-hash filter built "
    "from the catalog half's distinct 4-word shingles screens the new "
    "batch; "
    "'maybe seen' = all 3 md5-derived bit positions set. The filter "
    "is a <= 8192-row bit table that BROADCASTS — the pattern that "
    "turns an incremental-dedup anti-join against a 100 TB catalog "
    "into a map-side filter with a bounded false-positive rate, which "
    "this query measures exactly per source (no false negatives by "
    "construction; the semi-join truth is computed alongside).",
    tags=("dedup", "extension"),
)
def x_bloom_dedup_screen(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")

    def shingles(df, *extra):
        return (
            df.select(*extra, F.split(F.lower("text"), " ").alias("a"))
            # Guard: Spark's sequence(4, n) DESCENDS for n < 4, so a
            # <4-token doc would index a[negative] and error under
            # ANSI mode (DuckDB's generate_series is empty there).
            .filter(F.size("a") >= 4)
            .select(
                *extra,
                F.explode(
                    F.expr(
                        "transform(sequence(4, size(a)), i -> "
                        "struct(a[i - 4] AS w1, a[i - 3] AS w2, "
                        "a[i - 2] AS w3, a[i - 1] AS w4))"
                    )
                ).alias("p"),
            )
            .filter(
                (F.col("p.w1") != "")
                & (F.col("p.w2") != "")
                & (F.col("p.w3") != "")
                & (F.col("p.w4") != "")
            )
            .select(
                *extra,
                F.concat_ws(" ", "p.w1", "p.w2", "p.w3", "p.w4").alias("tok"),
            )
            .distinct()
        )

    cat = shingles(docs.filter(F.col("doc_id") % 2 == 0))
    batch = shingles(docs.filter(F.col("doc_id") % 2 == 1), "source")

    def positions(df, *keep):
        return df.select(
            *keep,
            "tok",
            F.explode(F.sequence(F.lit(1), F.lit(BLOOM_K))).alias("j"),
        ).select(
            *keep,
            "tok",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("j").cast("string"), F.lit("|"), F.col("tok")
                            )
                        ),
                        1,
                        6,
                    ),
                    16,
                    10,
                ).cast("int")
                % BLOOM_M
            ).alias("pos"),
        )

    bits = positions(cat).select("pos").distinct()
    probe = (
        positions(batch, "source")
        .join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("source", "tok")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"))
    )
    truth = (
        batch.join(cat.select("tok"), "tok")
        .select("source", "tok", F.lit(1).alias("is_member"))
    )
    maybe = F.when(F.col("n_hit") == BLOOM_K, 1).otherwise(0)
    member = F.coalesce(F.col("is_member"), F.lit(0))
    return (
        probe.join(truth, ["source", "tok"], "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_batch_toks"),
            F.sum(maybe).cast("long").alias("n_maybe"),
            F.sum(member).cast("long").alias("n_true_members"),
            (F.sum(maybe) - F.sum(member)).cast("long").alias("n_false_pos"),
            # a source whose batch bigrams are ALL catalog members has
            # no negatives to misclassify — rate undefined (ANSI
            # divide-by-zero otherwise), NULL in both engines
            F.when(
                F.count(F.lit(1)) - F.sum(member) > 0,
                (F.sum(maybe) - F.sum(member)).cast("double")
                / (F.count(F.lit(1)) - F.sum(member)),
            ).alias("fp_rate"),
        )
    )


OVERLAP_K = 5  # words per overlap shingle


@register(
    "x_source_overlap",
    # Corpus-level overlap diagnostic for mixture design: pairwise
    # Jaccard similarity between SOURCES over their distinct
    # lowercase 5-word-shingle sets. Doc-level dedup asks "is this
    # document a copy"; this asks "how much does src_a's corpus repeat
    # src_b's" — the number that decides whether two crawls can both
    # go into a training mix at full weight.
    oracle=f"""
WITH w AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
p AS (
  SELECT source, unnest(range(1, len(ws) - {OVERLAP_K - 2})) AS i, ws
  FROM w WHERE len(ws) >= {OVERLAP_K}
),
d AS (
  SELECT DISTINCT source, array_to_string(ws[i:i + {OVERLAP_K - 1}], ' ') AS sh
  FROM p
),
sizes AS (
  SELECT source, count(*)::BIGINT AS n FROM d GROUP BY 1
),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS n_common
  FROM d a JOIN d b ON a.sh = b.sh AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.src_a, i.src_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
       i.n_common::DOUBLE / (sa.n + sb.n - i.n_common) AS jaccard
FROM inter i
JOIN sizes sa ON i.src_a = sa.source
JOIN sizes sb ON i.src_b = sb.source
""",
    doc=f"Pairwise source-level Jaccard overlap on distinct "
    f"{OVERLAP_K}-word shingles. Plan: one shuffle on (source, "
    "shingle) for the distinct, a self-join on the shingle key whose "
    "output is bounded by |sources|^2 rows per shingle (20 sources -> "
    "<=190 pair rows per key, never quadratic in documents), a "
    "|sources|^2-key aggregate, and two broadcast joins against the "
    "20-row size table. The Jaccard is one IEEE division of exact "
    "integers — bit-identical across engines.",
    tags=("dedup", "text", "extension"),
)
def x_source_overlap(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
    )
    d = (
        docs.select("source", ws.alias("ws"))
        .filter(F.size("ws") >= OVERLAP_K)
        .select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - (OVERLAP_K - 1)),
                    lambda i: F.array_join(
                        F.slice(F.col("ws"), i, OVERLAP_K), " "
                    ),
                )
            ).alias("sh"),
        )
        .distinct()
    )
    sizes = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = d.alias("a"), d.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("n", "n_a")),
            F.col("src_a") == F.col("source"),
        )
        .drop("source")
        .join(
            F.broadcast(sizes.withColumnRenamed("n", "n_b")),
            F.col("src_b") == F.col("source"),
        )
        .drop("source")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def _keep_best_oracle() -> str:
    from ..operators.text import quality_score_sql

    return f"""WITH RECURSIVE {_cc_ctes()},
q AS (
  SELECT doc_id, {quality_score_sql('w', 'text')} AS quality_score
  FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS w FROM documents)
),
r AS (
  SELECT lbl.id AS doc_id, lbl.comp AS cluster_id, q.quality_score,
         row_number() OVER (PARTITION BY lbl.comp
                            ORDER BY q.quality_score DESC, lbl.id) AS rn
  FROM lbl JOIN q ON lbl.id = q.doc_id
)
SELECT doc_id::BIGINT AS doc_id, cluster_id::BIGINT AS cluster_id,
       quality_score, (rn = 1) AS keep
FROM r"""


@register(
    "x_dedup_keep_best",
    oracle=_keep_best_oracle(),
    # Canonical selection: pairwise near-dup detection (MinHash+LSH)
    # and clustering (large-/small-star CC) decide WHICH docs are copies;
    # this decides which copy SURVIVES — the highest quality-score
    # doc per cluster (ties -> lowest doc_id), everything else marked
    # for drop. min-doc_id canonicals (x_dedup_clusters) keep an
    # arbitrary copy; production dedup keeps the best one.
    doc="Quality-aware dedup survivor selection: join the near-dup "
    "cluster labels with the Gopher/C4 quality score and keep the "
    "argmax per cluster via row_number over the unique (quality DESC, "
    "doc_id) chain. The per-cluster window state is bounded by cluster "
    "size; the quality score is bit-identical across engines, so "
    "ordering on it is deterministic. Composes x_minhash_lsh_neardup "
    "-> x_dedup_clusters -> x_text_quality into the decision the "
    "pipeline actually ships.",
    tags=("dedup", "text", "extension"),
)
def x_dedup_keep_best(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.text import quality_score

    docs = load(spark, sf_dir, "documents").withColumn("w", words_col(F.col("text")))
    docsets = (
        docs.filter(F.size("w") >= 2)
        .select("doc_id", word_shingles("w", 2))
    )
    pairs = minhash_neardup_compact(docsets, NUM_HASHES, ROWS_PER_BAND, JACCARD_T)
    clusters = neardup_clusters_star(pairs).select("doc_id", "cluster_id")
    q = docs.select("doc_id", quality_score("w", F.col("text")).alias("quality_score"))
    w_rank = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), "doc_id"
    )
    return (
        clusters.join(q, "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            "quality_score",
            (F.row_number().over(w_rank) == 1).alias("keep"),
        )
    )


CONTAIN_T = 0.2


@register(
    "x_containment_neardup",
    # Asymmetric containment detection: c / min(|A|, |B|) over
    # DISTINCT 5-word shingle sets, within (lang, source) blocks.
    # Jaccard misses subset relations — a short doc quoted wholesale
    # inside a long one scores c/(na+nb-c) ~ na/nb ~ 0 but containment
    # 1.0 — and containment is the measure quote/boilerplate removal
    # actually needs. Same sparse-vector-join form as x_ngram_jaccard
    # (no per-pair set materialization).
    oracle=f"""
WITH w AS (
  SELECT doc_id, lang, source,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
p AS (
  SELECT doc_id, lang, source, unnest(range(1, len(ws) - 3)) AS i, ws
  FROM w WHERE len(ws) >= {OVERLAP_K}
),
d AS (
  SELECT DISTINCT doc_id, lang, source,
         array_to_string(ws[i:i + {OVERLAP_K - 1}], ' ') AS sh
  FROM p
),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM d GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS c
  FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
                   AND a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, sa.n AS n_a, sb.n AS n_b, c AS n_common,
       c::DOUBLE / least(sa.n, sb.n) AS containment
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE c::DOUBLE / least(sa.n, sb.n) >= {CONTAIN_T}
""",
    doc=f"Containment near-dup (c/min set size over distinct "
    f"{OVERLAP_K}-word shingles, threshold {CONTAIN_T}) within "
    "(lang, source) blocks — catches a document swallowed by another "
    "that symmetric Jaccard scores near zero. Sparse-vector join on "
    "(block, shingle), pair space per block, exact integer set sizes, "
    "one IEEE division.",
    tags=("dedup", "extension"),
)
def x_containment_neardup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
    )
    d = (
        docs.select("doc_id", "lang", "source", ws.alias("ws"))
        .filter(F.size("ws") >= OVERLAP_K)
        .select(
            "doc_id",
            "lang",
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - (OVERLAP_K - 1)),
                    lambda i: F.array_join(
                        F.slice(F.col("ws"), i, OVERLAP_K), " "
                    ),
                )
            ).alias("sh"),
        )
        .distinct()
    )
    sizes = d.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = d.alias("a"), d.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    cont = F.col("n_common").cast("double") / F.least("n_a", "n_b")
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("containment", cont)
        .filter(F.col("containment") >= CONTAIN_T)
        .select("doc_a", "doc_b", "n_a", "n_b", "n_common", "containment")
    )


@register(
    "x_dedup_rate_by_source",
    # Dedup census per source: how much of each source survives exact
    # dedup — the per-corpus health number that decides whether a
    # source needs the expensive near-dup passes at all. Integer
    # counts; the rate is one IEEE division.
    oracle="""
SELECT source,
       count(*)::BIGINT AS n_docs,
       count(DISTINCT md5(lower(text)))::BIGINT AS n_unique,
       1.0::DOUBLE - count(DISTINCT md5(lower(text)))::DOUBLE / count(*)
         AS dup_rate
FROM documents
GROUP BY source
""",
    doc="Exact-dup rate per source: one (source, content-hash) "
    "two-phase distinct aggregate — map-side partials absorb repeats, "
    "both shuffle keys are hash-uniform. The report every mixture "
    "decision starts from.",
    tags=("dedup", "extension"),
)
def x_dedup_rate_by_source(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.lower("text"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(h).alias("n_unique"),
        (
            F.lit(1.0)
            - F.countDistinct(h).cast("double") / F.count(F.lit(1))
        ).alias("dup_rate"),
    )


def _asym_oracle() -> str:
    b1, b2 = minhash_base_sql("shingle")
    mins = ",\n         ".join(
        f"min({minhash_hash_i_sql(i)}) AS h{i}" for i in range(NUM_HASHES)
    )
    n_bands = NUM_HASHES // ROWS_PER_BAND
    band_exprs = ", ".join(
        "("
        + " || '|' || ".join(
            f"h{b * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND)
        )
        + ")"
        for b in range(n_bands)
    )
    return f"""
WITH docsets AS (
  SELECT doc_id, {word_shingles_sql('text', 2)} AS shingles
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
  WHERE len(w) >= 2
),
exploded AS (
  SELECT doc_id, {b1} AS _mh1, {b2} AS _mh2
  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM docsets)
),
sig AS (SELECT doc_id, {mins} FROM exploded GROUP BY doc_id),
bands AS (
  SELECT doc_id, band_id - 1 AS band_id, bandvals[band_id] AS band_val
  FROM (SELECT doc_id, [{band_exprs}] AS bandvals FROM sig),
       unnest(generate_series(1, {n_bands})) t(band_id)
),
candx AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
),
pairsx AS (
  SELECT doc_a, doc_b
  FROM candx JOIN docsets sa ON candx.doc_a = sa.doc_id
             JOIN docsets sb ON candx.doc_b = sb.doc_id
  WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
        / len(list_distinct(list_concat(sa.shingles, sb.shingles)))::DOUBLE
        >= {JACCARD_T}
),
ex AS (
  SELECT n.doc_id AS new_id, min(o.doc_id) AS exact_match
  FROM documents n JOIN documents o
    ON md5(lower(n.text)) = md5(lower(o.text))
   AND n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
  GROUP BY 1
),
nr AS (
  SELECT doc_a AS new_id, count(*)::BIGINT AS n_near,
         min(doc_b) AS near_match
  FROM pairsx GROUP BY 1
)
SELECT d.doc_id,
       (ex.new_id IS NOT NULL) AS is_exact_dup,
       coalesce(nr.n_near, 0)::BIGINT AS n_near_matches,
       coalesce(ex.exact_match, nr.near_match) AS best_match
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN ex ON d.doc_id = ex.new_id
LEFT JOIN nr ON d.doc_id = nr.new_id
"""


@register(
    "x_incremental_dedup",
    oracle=_asym_oracle(),
    # Incremental ingestion dedup: a NEW batch (doc_id % 10 = 0 here;
    # in production, today's crawl) screened against the existing
    # CATALOG — exact via a content-hash join, near via an ASYMMETRIC
    # LSH band join (new bands x catalog bands, never
    # catalog x catalog): the shape that makes continuous ingestion
    # affordable, because the quadratic side of dedup only ever
    # touches the new batch's candidates.
    doc="New-batch-vs-catalog dedup screen: per new doc, exact-dup "
    "flag (hash equi-join), the count of catalog near-dups above the "
    "Jaccard threshold (band-bucketed candidates, exact verify via "
    "the rejoin flow), and a deterministic best-match id "
    "(min-id convention, exact match preferred). Signatures compute "
    "ONCE over the union and the band join filters sides — the "
    "catalog's band table is reusable state across ingests.",
    tags=("dedup", "extension"),
)
def x_incremental_dedup(spark, sf_dir):
    from ..operators.dedup import incremental_dedup_screen

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    is_new = F.col("doc_id") % 10 == 0
    return incremental_dedup_screen(
        docs.filter(is_new), docs.filter(~is_new),
        NUM_HASHES, ROWS_PER_BAND, JACCARD_T,
    )


@register(
    "x_ngram_novelty",
    # Per-document novelty: the fraction of a doc's DISTINCT 5-word
    # shingles that appear in no other document — low novelty means
    # the doc is assembled from corpus-common boilerplate even when no
    # single source document matches it (which is why neither pairwise
    # near-dup nor containment catches it). The inverse signal of
    # x_span_dedup's duplicated-span list, reduced to one number per
    # doc for filter pipelines.
    oracle=f"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
p AS (
  SELECT doc_id, unnest(range(1, len(ws) - {OVERLAP_K - 2})) AS i, ws
  FROM w WHERE len(ws) >= {OVERLAP_K}
),
d AS (
  SELECT DISTINCT doc_id,
         array_to_string(ws[i:i + {OVERLAP_K - 1}], ' ') AS sh
  FROM p
),
freq AS (SELECT sh, count(*)::BIGINT AS n_docs FROM d GROUP BY sh)
SELECT d.doc_id,
       count(*)::BIGINT AS n_shingles,
       sum(CASE WHEN freq.n_docs = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
       sum(CASE WHEN freq.n_docs = 1 THEN 1 ELSE 0 END)::DOUBLE
         / count(*) AS novelty
FROM d JOIN freq ON d.sh = freq.sh
GROUP BY d.doc_id
""",
    doc=f"Novelty score per document: distinct {OVERLAP_K}-word "
    "shingles -> corpus document-frequency on the shingle key -> "
    "join back -> per-doc unique fraction. Two shingle-key shuffles "
    "and one doc-key aggregate; the frequency table is "
    "vocabulary-sized. One IEEE division of exact integers.",
    tags=("dedup", "text", "extension"),
)
def x_ngram_novelty(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
    )
    d = (
        docs.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= OVERLAP_K)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - (OVERLAP_K - 1)),
                    lambda i: F.array_join(
                        F.slice(F.col("ws"), i, OVERLAP_K), " "
                    ),
                )
            ).alias("sh"),
        )
        .distinct()
    )
    freq = d.groupBy("sh").agg(F.count(F.lit(1)).alias("n_docs"))
    uniq = F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
    return (
        d.join(freq, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            uniq.cast("long").alias("n_unique"),
            (uniq.cast("double") / F.count(F.lit(1))).alias("novelty"),
        )
    )


PPJOIN_T = 0.7


def _prefix_join_oracle() -> str:
    # identical algorithm in DuckDB: global (df, token) order, per-doc
    # Jaccard prefix of length n - ceil(t*n) + 1, prefix equi-join
    # candidates, exact-Jaccard verify
    return f"""
WITH d AS (
  SELECT doc_id, {word_shingles_sql('text', 2)} AS sh
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
  WHERE len(w) >= 2
),
tok AS (SELECT doc_id, unnest(sh) AS t FROM d),
dfq AS (SELECT t, count(*)::BIGINT AS df FROM tok GROUP BY t),
sorted_toks AS (
  SELECT tok.doc_id, list(tok.t ORDER BY dfq.df, tok.t) AS toks
  FROM tok JOIN dfq ON tok.t = dfq.t
  GROUP BY tok.doc_id
),
pref AS (
  SELECT doc_id,
         toks[1 : len(toks) - ceil(0.7::DOUBLE * len(toks))::INT + 1] AS prefix
  FROM sorted_toks
),
pt AS (SELECT doc_id, unnest(prefix) AS t FROM pref),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pt a JOIN pt b ON a.t = b.t AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       len(list_intersect(sa.sh, sb.sh))::DOUBLE
         / len(list_distinct(list_concat(sa.sh, sb.sh)))::DOUBLE AS jaccard
FROM cand c
JOIN d sa ON sa.doc_id = c.doc_a
JOIN d sb ON sb.doc_id = c.doc_b
WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
        / len(list_distinct(list_concat(sa.sh, sb.sh)))::DOUBLE >= {PPJOIN_T}
"""


@register(
    "x_prefix_filter_join",
    oracle=_prefix_join_oracle(),
    doc="EXACT set-similarity join via prefix filtering (AllPairs/"
    "PPJoin, Bayardo et al. / Xiao et al.): order every doc's bigram "
    "set by global rarity, index only the Jaccard prefix (the first "
    "n - ceil(t*n) + 1 rarest tokens — any pair with J >= t MUST "
    "share a prefix token under a common order), equi-join prefixes "
    "for candidates, verify exact Jaccard on candidates only. The "
    "exact, zero-false-negative complement to MinHash LSH: no "
    "probability knob, candidates bounded by rare-token postings "
    "instead of band collisions. tests/test_lsh_recall.py pins "
    "equality with the quadratic brute-force truth.",
    tags=("dedup", "extension"),
)
def x_prefix_filter_join(spark, sf_dir):
    from ..operators.dedup import word_shingles, words_col

    docs = load(spark, sf_dir, "documents").withColumn("w", words_col(F.col("text")))
    d = docs.filter(F.size("w") >= 2).select(
        "doc_id", word_shingles("w", 2).alias("sh")
    ).transform(lineage_cut_lazy)
    tok = d.select("doc_id", F.explode("sh").alias("t"))
    dfq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    sorted_toks = (
        tok.join(F.broadcast(dfq), "t")
        .groupBy("doc_id")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(df, t))), s -> s.t)")
            .alias("toks")
        )
    )
    pt = sorted_toks.select(
        "doc_id",
        F.size("toks").alias("sz"),
        F.posexplode(
            F.expr(
                "slice(toks, 1, size(toks) - cast(ceil(cast(0.7 as double) "
                "* size(toks)) as int) + 1)"
            )
        ).alias("p", "t"),
    )
    a = pt.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"),
        F.col("p").alias("pa"), F.col("t").alias("ta"),
    )
    b = pt.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"),
        F.col("p").alias("pb"), F.col("t").alias("tb"),
    )
    # AllPairs/PPJoin LENGTH + POSITIONAL FILTERS (Bayardo et al. 2007 /
    # Xiao et al. 2008, the published companions to the prefix filter),
    # both integer-exact and provably lossless at t = 0.7:
    # - length: J(x,y) <= min(|x|,|y|)/max(|x|,|y|), so 10*min < 7*max
    #   can never reach the verify threshold;
    # - positional: J >= t needs overlap o >= alpha =
    #   ceil(t/(1+t)*(|x|+|y|)) = (7*(|x|+|y|)+16) div 17, and the pair's
    #   FIRST common token (the global df-order makes common elements
    #   appear in the same relative order in both lists, so no common
    #   token precedes it in either) bounds o <= 1 + min(remaining
    #   suffix lengths); keeping a pair iff ANY matched prefix
    #   occurrence passes is a superset of first-occurrence-passes,
    #   hence lossless.
    # r15 measurement at sf0.1: the corpus has only 931 distinct
    # bigrams, so prefix postings are hot and the unfiltered candidate
    # set hit 5.9M pairs whose array-intersect verify dominated the
    # query (~46 s); length cuts it to 2.75M, +positional to 1.41M,
    # with zero result change (oracle re-verified at sf0.001/0.01).
    alpha = F.expr("(7 * (sz_a + sz_b) + 16) div 17")
    cand = (
        a.join(
            b,
            (F.col("ta") == F.col("tb"))
            & (F.col("doc_a") < F.col("doc_b"))
            & (F.least("sz_a", "sz_b") * 10 >= F.greatest("sz_a", "sz_b") * 7)
            & (
                1
                + F.least(
                    F.col("sz_a") - F.col("pa") - 1,
                    F.col("sz_b") - F.col("pb") - 1,
                )
                >= alpha
            ),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    # |union| = |x| + |y| - |inter| (sh is array_distinct by
    # construction), saving the array_union pass per candidate; the
    # division consumes the same two integers as before, so the double
    # is bit-identical to the oracle's len(list_distinct(list_concat)).
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= PPJOIN_T)
        .select("doc_a", "doc_b", "jaccard")
    )


BAND_SWEEP_ROWS = (2, 3, 4)  # 6 / 4 / 3 bands over the 12-hash signature


def _band_sweep_oracle() -> str:
    b1, b2 = minhash_base_sql("shingle")
    mins = ",\n         ".join(
        f"min({minhash_hash_i_sql(i)}) AS h{i}" for i in range(NUM_HASHES)
    )
    ctes = [
        f"""docsets AS (
  SELECT doc_id, {word_shingles_sql('text', 2)} AS shingles
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
  WHERE len(w) >= 2
),
exploded AS (
  SELECT doc_id, {b1} AS _mh1, {b2} AS _mh2
  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM docsets)
),
sig AS (SELECT doc_id, {mins} FROM exploded GROUP BY doc_id)"""
    ]
    for r in BAND_SWEEP_ROWS:
        n_bands = NUM_HASHES // r
        band_exprs = ", ".join(
            "(" + " || '|' || ".join(
                f"h{b * r + i}::VARCHAR" for i in range(r)
            ) + ")"
            for b in range(n_bands)
        )
        ctes.append(
            f"""bands{r} AS (
  SELECT doc_id, band_id, bandvals[band_id] AS band_val
  FROM (SELECT doc_id, [{band_exprs}] AS bandvals FROM sig),
       unnest(generate_series(1, {n_bands})) t(band_id)
),
cand{r} AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands{r} a JOIN bands{r} b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
),
ver{r} AS (
  SELECT doc_a, doc_b
  FROM cand{r} JOIN docsets sa ON cand{r}.doc_a = sa.doc_id
               JOIN docsets sb ON cand{r}.doc_b = sb.doc_id
  WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
        / len(list_distinct(list_concat(sa.shingles, sb.shingles)))::DOUBLE
        >= {JACCARD_T}
)"""
        )
    rows = "\nUNION ALL\n".join(
        f"""SELECT {r}::INT AS rows_per_band, {NUM_HASHES // r}::INT AS n_bands,
       (SELECT count(*) FROM cand{r})::BIGINT AS n_candidates,
       (SELECT count(*) FROM ver{r})::BIGINT AS n_verified,
       CASE WHEN (SELECT count(*) FROM cand{r}) > 0
            THEN (SELECT count(*) FROM ver{r})::DOUBLE
                 / (SELECT count(*) FROM cand{r})
            ELSE NULL END AS precision,
       CASE WHEN (SELECT count(*) FROM ver2) > 0
            THEN (SELECT count(*) FROM ver{r} v
                  JOIN ver2 p ON v.doc_a = p.doc_a AND v.doc_b = p.doc_b)::DOUBLE
                 / (SELECT count(*) FROM ver2)
            ELSE NULL END AS coverage_vs_r2
FROM (SELECT 1)"""
        for r in BAND_SWEEP_ROWS
    )
    return f"WITH {', '.join(ctes)}\n{rows}"


@register(
    "x_minhash_band_sweep",
    oracle=_band_sweep_oracle(),
    # The dedup-side tuning curve (pairing x_ivf_nprobe_sweep's ANN
    # one): the SAME 12-hash signatures banded three ways — 6 bands of
    # 2 rows (permissive), 4x3, 3x4 (strict) — with candidate volume
    # (the join cost), verified near-dups, precision, and coverage vs
    # the most permissive config. The knob every LSH dedup deployment
    # sets by exactly this sweep: collision prob = 1 - (1 - s^r)^b.
    doc="MinHash banding sweep at rows-per-band 2/3/4 over one shared "
    "signature table: candidate-pair volume vs verified near-dups vs "
    "precision vs coverage — the cost/recall curve that sizes an LSH "
    "dedup config. Signatures compute ONCE (the expensive shingle "
    "pass is shared; only the banding re-derives), candidates come "
    "from band equi-joins, and verification is exact Jaccard on the "
    "candidate set only — never all-pairs.",
    tags=("dedup", "extension"),
)
def x_minhash_band_sweep(spark, sf_dir):
    from ..operators.dedup import (
        candidate_pairs,
        lsh_bands,
        minhash_signatures,
        word_shingles,
    )

    docs = load(spark, sf_dir, "documents")
    docsets = (
        docs.select("doc_id", F.split(F.lower("text"), " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select("doc_id", word_shingles("w", 2).alias("shingles"))
        .transform(lineage_cut_lazy)  # shared by sig build + verification
    )
    sig = minhash_signatures(
        docsets.select("doc_id", F.explode("shingles").alias("shingle")),
        NUM_HASHES,
    ).transform(lineage_cut_lazy)  # banded three ways below
    sa = docsets.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = docsets.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    per_r = {}
    for r in BAND_SWEEP_ROWS:
        cand = candidate_pairs(
            lsh_bands(sig, NUM_HASHES, r)
        ).transform(lineage_cut_lazy)
        ver = (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .filter(jac >= JACCARD_T)
            .select("doc_a", "doc_b")
            .transform(lineage_cut_lazy)
        )
        per_r[r] = (cand.count(), ver)
    ref = per_r[2][1]
    n_ref = ref.count()
    out = None
    for r in BAND_SWEEP_ROWS:
        n_cand, ver = per_r[r]
        n_ver = ver.count()
        n_cov = ver.join(ref, ["doc_a", "doc_b"]).count()
        row = spark.createDataFrame(
            [
                (
                    r,
                    NUM_HASHES // r,
                    n_cand,
                    n_ver,
                    (float(n_ver) / n_cand) if n_cand > 0 else None,
                    (float(n_cov) / n_ref) if n_ref > 0 else None,
                )
            ],
            "rows_per_band int, n_bands int, n_candidates long, "
            "n_verified long, precision double, coverage_vs_r2 double",
        )
        out = row if out is None else out.unionByName(row)
    return out


DHASH_COLS = [(x * 12) // 8 for x in range(8)]  # 8 sampled columns of 12
# Max hamming distance for a near-dup pair. 5, not 6: candidacy uses
# composite 16-bit byte-PAIR bands (C(7,2) = 21 keys), which are
# pigeonhole-exact only to 5 flips (5 flips corrupt <= 5 of 7 bytes ->
# >= 2 intact bytes -> some intact pair key). Single-byte banding kept
# hamming <= 6 exact but was MEASURED quadratic at sf1 (969k -> 95.8M
# candidate pairs at 10x images: ~10% background collision per 8-bit
# gradient band); the threshold trade buys near-linear candidate
# growth (sf1 wall 33.5 -> 16.2 s). Adjudicated in SCALING.md — the
# same occupancy rule as the minhash ROWS_PER_BAND fix.
DHASH_T = 5


def _dhash_sql_expr() -> str:
    """56-bit dHash as one integer SQL expression over the 96-char
    payload string `t` arranged (8 rows x 12 cols): bit (y*7 + x) set
    iff sampled pixel (y, x) > (y, x+1). 56 bits (not the classic 64)
    keeps the hash in SIGNED-64 range in both engines. Generated in
    Python so Spark and DuckDB consume the identical expression."""
    terms = []
    for y in range(8):
        for x in range(7):
            li = y * 12 + DHASH_COLS[x] + 1       # 1-based substr
            ri = y * 12 + DHASH_COLS[x + 1] + 1
            bit = 1 << (y * 7 + x)
            terms.append(
                f"(CASE WHEN unicode(substr(t, {li}, 1)) > "
                f"unicode(substr(t, {ri}, 1)) THEN {bit} ELSE 0 END)"
            )
    return "(" + "\n + ".join(terms) + ")::BIGINT"


@register(
    "x_image_dhash_dedup",
    # Perceptual-hash image dedup (dHash — the public aHash/dHash/
    # pHash family): every doc's 96 payload bytes are an 8x12 grey
    # raster hashed inside mapInPandas. The gradient hash (does pixel
    # x exceed pixel x+1 on a sampled grid) gives a 56-bit signature
    # robust to brightness shifts. Pairing is
    # NEVER all-pairs: a candidate must share a COMPOSITE 16-bit band
    # — one of the C(7,2) = 21 byte PAIRS of the signature.
    # Pigeonhole: 5 bit flips corrupt at most 5 of the 7 bytes,
    # leaving >= 2 intact, and any 2 intact bytes ARE one of the 21
    # pair keys — so candidacy is EXACT for hamming <= DHASH_T = 5.
    # (This query originally used single-byte bands, exact to
    # hamming <= 6; the sf1 scale proof measured that plan quadratic
    # — 969k -> 95.8M candidates at 10x images — and the composite
    # rewrite restored near-linear growth; see DHASH_T above and
    # SCALING.md. Crucially the pruning lives IN THE JOIN KEY: a
    # >= 2-shared-bands HAVING after a single-band join still
    # materialized the quadratic candidate set and was SLOWER.) The
    # oracle computes the same hash arithmetically from code points
    # (the raster IS the code points), the same composite banding, and
    # bit_count(xor) — hamming is integer-exact.
    oracle=f"""
WITH img AS (
  SELECT doc_id,
         substr(rpad(regexp_replace(text, '[^ -~]', '?', 'g'), 96, 'x'), 1, 96) AS t
  FROM documents
),
h AS (SELECT doc_id, {{dhash}} AS h FROM img),
bands AS (
  SELECT doc_id, h, i, j,
         ((h >> (8 * i)) & 255) * 256 + ((h >> (8 * j)) & 255) AS band_val
  FROM h, unnest(generate_series(0, 5)) t1(i), unnest(generate_series(0, 6)) t2(j)
  WHERE j > i
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.h AS ha, b.doc_id AS doc_b, b.h AS hb
  FROM bands a JOIN bands b
    ON a.i = b.i AND a.j = b.j AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(ha, hb))::BIGINT AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= {DHASH_T}
""".replace("{dhash}", _dhash_sql_expr()),
    doc="Perceptual image dedup via dHash: each doc's 96 ASCII bytes "
    "as an 8x12 grey raster hashed in mapInPandas, 56-bit gradient "
    "signature, occupancy-safe candidacy — pairs must share >= 2 of the 7 "
    "signature bytes via composite 16-bit byte-pair band keys "
    "(pigeonhole-exact for hamming <= 5), which collapsed the "
    "background-collision candidate space the sf1 measurement showed "
    "growing quadratically under single-byte bands — bit_count "
    "verify; the signature table is 16 bytes/image.",
    tags=("dedup", "multimodal", "extension"),
)
def x_image_dhash_dedup(spark, sf_dir):
    from collections.abc import Iterator

    import pandas as pd

    docs = load(spark, sf_dir, "documents")
    ascii_text = F.regexp_replace(F.col("text"), "[^ -~]", "?")
    t96 = F.substring(F.rpad(ascii_text, 96, "x"), 1, 96)
    src = docs.select("doc_id", F.encode(t96, "utf-8").alias("raster"))

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cols = np.array(DHASH_COLS)
        for pdf in batches:
            if not len(pdf):
                continue
            out = {"doc_id": [], "h": []}
            for doc_id, raster in zip(pdf["doc_id"], pdf["raster"]):
                pix = np.frombuffer(bytes(raster), np.uint8).reshape(8, 12)
                g = pix[:, cols].astype(np.int32)
                bits = (g[:, :-1] > g[:, 1:]).ravel()
                h = 0
                for i, b in enumerate(bits):
                    if b:
                        h |= 1 << i
                out["doc_id"].append(int(doc_id))
                out["h"].append(h)
            yield pd.DataFrame(out)

    h = src.mapInPandas(_hash, "doc_id long, h long").transform(lineage_cut_lazy)
    pairs_ij = [(i, j) for i in range(6) for j in range(i + 1, 7)]  # C(7,2)=21
    combos = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
                for i, j in pairs_ij
            ]
        )
    ).alias("c")
    bands = (
        h.select("doc_id", "h", combos)
        .select("doc_id", "h", "c.i", "c.j")
        .withColumn(
            "band_val",
            F.expr("(shiftright(h, i * 8) & 255) * 256 + (shiftright(h, j * 8) & 255)"),
        )
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.j") == F.col("b.j"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.h").alias("ha"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.h").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.filter(hamming <= DHASH_T).select(
        "doc_a", "doc_b", hamming.cast("long").alias("hamming")
    )
