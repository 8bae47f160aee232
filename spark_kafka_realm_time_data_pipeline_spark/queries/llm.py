"""LLM-data-pipeline queries: dedup, similarity search, text analysis,
multimodal columns (driver north star; BASELINE.json).

Oracle strategy: all hashing is md5/sha256 (engine-portable), all float
reductions are deterministic left folds, so even MinHash-LSH has a full
value oracle.  Oracle SQL for vote/argmax cascades is *generated* from the
same Python constants the Spark side uses — one source of truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as T
from ..operators import training as TR
from ..operators.text import BM25_B, BM25_K1
from ..sources.files import load_table
from . import QuerySpec

# --- shared oracle fragments -------------------------------------------------

ORA_TOKS = (
    "toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus)"
)

_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (acc, x) -> acc + x)"
)
_NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
    "(acc, x) -> acc + x))"
)


def _ora_cosine(a: str, b: str) -> str:
    return f"{_DOT.format(a=a, b=b)} / ({_NORM.format(a=a)} * {_NORM.format(a=b)})"


# --- dedup -------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(D.planted_corpus(spark, sf_dir))


ORA_DEDUP_EXACT = f"""
WITH {D.ORA_CORPUS}
SELECT content_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM (SELECT doc_id, sha256(text) AS content_hash FROM corpus)
GROUP BY content_hash HAVING COUNT(*) > 1
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_dedup(
        D.planted_corpus(spark, sf_dir),
        threshold=0.8,
        tokenizer=D.doc_token_keys,
        tok_hashed=True,
    )


# Generated from the SAME constants the Spark operator uses (one source of
# truth for n_hashes / band_rows / bucket cap).  Parameterized by the token
# CTE so word-token and character-shingle variants share one definition.
_MINHASH_SEEDS = ",".join(str(s) for s in range(D.N_MINHASH))


_ORA_AB_MD5 = """
  SELECT doc_id,
         CAST(('0x' || substring(md5(tok), 1, 7)) AS BIGINT) AS a,
         CAST(('0x' || substring(md5(tok), 9, 7)) AS BIGINT) AS b
  FROM toks
"""
# hashed-shingle variant: tok is already a 42-bit polynomial BIGINT key;
# (a, b) are residues mod two distinct 28-bit primes exactly as
# minhash_signatures(tok_hashed=True) computes them
_ORA_AB_SPLIT = f"""
  SELECT doc_id, tok % {D.MINHASH_PRIME} AS a, tok % {D.MINHASH_PRIME_B} AS b
  FROM toks
"""


def _ora_minhash_pipeline(toks_cte: str, ab_select: str = _ORA_AB_MD5) -> str:
    return f"""
WITH {D.ORA_CORPUS},
{toks_cte},
hashed AS ({ab_select}),
sigs AS (
  SELECT doc_id, seed, MIN((a + seed * (2*b + 1)) % {D.MINHASH_PRIME}) AS sig
  FROM hashed CROSS JOIN (SELECT unnest([{_MINHASH_SEEDS}]) AS seed) seeds
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // {D.BAND_ROWS} AS band_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list(sig ORDER BY seed)),
                     (acc, s) -> (acc * {D.SHINGLE_B} + s) % {D.SHINGLE_P}) AS band_key
  FROM sigs GROUP BY doc_id, seed // {D.BAND_ROWS}
),
capped AS (
  SELECT doc_id, band_id, band_key FROM bands
  QUALIFY row_number() OVER (PARTITION BY band_id, band_key ORDER BY doc_id)
          <= {D.MAX_BUCKET}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b ON a.band_id = b.band_id AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cands c
  JOIN toks ta ON ta.doc_id = c.doc_a
  JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       CAST(n_inter AS DOUBLE) / CAST(sa.n_toks + sb.n_toks - n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_toks + sb.n_toks - n_inter AS DOUBLE) >= 0.8
"""


# Word tokens folded to 42-bit integer keys with the shared polynomial
# (matches operators/dedup.doc_token_keys; ascii('') = 0 on both engines so
# empty tokens from repeated separators fold to 0 identically).
ORA_TOKS_HASHED = (
    "toks AS (SELECT DISTINCT doc_id, "
    "unnest(list_distinct(list_transform(string_split(text, ' '), "
    "w -> list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))), "
    f"(acc, c) -> (acc * {D.SHINGLE_B} + c) % {D.SHINGLE_P})"
    "))) AS tok FROM corpus)"
)

ORA_DEDUP_MINHASH = _ora_minhash_pipeline(ORA_TOKS_HASHED, _ORA_AB_SPLIT)

# Character 5-gram shingles (matches operators/dedup.doc_shingles: positions
# 1..len-4, 0-padded beyond the text end, each shingle hashed with the SAME
# mod-P polynomial over ascii codes the Spark side computes — generated from
# the shared SHINGLE_B / SHINGLE_P constants, one source of truth).
def _ora_gram_hash(n: int = 5) -> str:
    h = f"CAST(coalesce(codes[i], 0) AS BIGINT)"
    for k in range(1, n):
        h = f"(({h}) * {D.SHINGLE_B} + coalesce(codes[i + {k}], 0)) % {D.SHINGLE_P}"
    return h


ORA_SHINGLES = (
    "toks AS (SELECT DISTINCT doc_id, "
    "unnest(list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1), "
    f"i -> {_ora_gram_hash()}"
    "))) AS tok FROM (SELECT doc_id, "
    "list_transform(string_split(text, ''), c -> ascii(c)) AS codes, text FROM corpus))"
)
ORA_DEDUP_MINHASH_NGRAM = _ora_minhash_pipeline(ORA_SHINGLES, _ORA_AB_SPLIT)


def q_dedup_minhash_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup: the same MinHash->LSH->verify pipeline over
    character 5-gram shingles — robust to word reordering and punctuation
    edits that word-token Jaccard misses.  Same 100 TB shape (one signature
    shuffle, bucket equi-join, capped buckets)."""
    return D.minhash_lsh_dedup(
        D.planted_corpus(spark, sf_dir),
        threshold=0.8,
        tokenizer=D.doc_shingles,
        tok_hashed=True,
    )


def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked EXACT-Jaccard self-join via a prefix-filtered inverted
    index (AllPairs/PPJoin family) at t=0.8 over the same char-5-gram
    shingle sets as dedup_minhash_ngram — the signature-free tier: no
    MinHash aggregation, candidates from the df-rarest prefix index with
    size + positional + posting-cap prunes, exact-Jaccard verify on the
    survivors.  See operators/dedup.prefix_filter_pairs for the three
    prune rules and the low-entropy-corpus rationale for the cap."""
    return D.prefix_filter_pairs(D.planted_corpus(spark, sf_dir))


# Replays the blocked exact-Jaccard join exactly: df-ascending shingle
# order, integer prefix length n - ceil(4n/5) + 1 via (4n+4)//5, the
# per-token posting cap, the 5*min >= 4*max size filter, the PPJoin
# positional filter 1 + min(n_a-fa, n_b-fb) >= ceil(4(na+nb)/9), and the
# shared exact-Jaccard verify.  QUALIFY windows compute over WHERE
# survivors in DuckDB exactly as the chained .filter().withColumn() does
# in Spark.
ORA_DEDUP_JACCARD_PREFIX = f"""
WITH {D.ORA_CORPUS},
{ORA_SHINGLES},
df AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok),
sizes AS (SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id),
ranked AS (
  SELECT t.doc_id, t.tok, s.n_toks,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS p
  FROM toks t JOIN df d USING (tok) JOIN sizes s USING (doc_id)
),
pref AS (
  SELECT doc_id, tok, p, n_toks FROM ranked
  WHERE p <= n_toks - (4 * n_toks + 4) // 5 + 1
  QUALIFY row_number() OVER (PARTITION BY tok ORDER BY doc_id) <= {D.PREFIX_CAP}
),
g AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         MIN(a.p) AS fa, MIN(b.p) AS fb,
         ANY_VALUE(a.n_toks) AS n_a, ANY_VALUE(b.n_toks) AS n_b
  FROM pref a JOIN pref b ON a.tok = b.tok
  WHERE a.doc_id < b.doc_id
    AND 5 * least(a.n_toks, b.n_toks) >= 4 * greatest(a.n_toks, b.n_toks)
  GROUP BY 1, 2
),
cands AS (
  SELECT doc_a, doc_b FROM g
  WHERE 1 + least(n_a - fa, n_b - fb) >= (4 * (n_a + n_b) + 8) // 9
),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cands c
  JOIN toks ta ON ta.doc_id = c.doc_a
  JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       CAST(n_inter AS DOUBLE) / CAST(sa.n_toks + sb.n_toks - n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_toks + sb.n_toks - n_inter AS DOUBLE) >= 0.8
"""


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-containment self-join at t=0.9: pairs where A's
    shingle set is >=90% inside B's — the quote/inclusion direction every
    symmetric Jaccard tier misses on size-mismatched pairs.  Asymmetric
    prefix filter (A probes its rarest-token prefix into B's full capped
    index), integer milli-unit scores; see operators/dedup.containment_pairs."""
    return D.containment_pairs(D.planted_corpus(spark, sf_dir))


# Replays the asymmetric prefix-filtered containment join exactly: the
# df-ascending global token order, A-side prefix n - ceil(9n/10) + 1 via
# (9n+9)//10, the per-token posting cap on BOTH the prefix and the full
# index, the |B| >= ceil(0.9*|A|) size prune (as 10*n_b >= 9*n_a), and the
# integer milli-unit verify 10*inter >= 9*n_a.
ORA_DEDUP_CONTAINMENT = f"""
WITH {D.ORA_CORPUS},
{ORA_SHINGLES},
df AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok),
sizes AS (SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id),
ranked AS (
  SELECT t.doc_id, t.tok, s.n_toks,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS p
  FROM toks t JOIN df d USING (tok) JOIN sizes s USING (doc_id)
),
pref AS (
  SELECT doc_id, tok, p, n_toks FROM ranked
  WHERE p <= n_toks - (9 * n_toks + 9) // 10 + 1
  QUALIFY row_number() OVER (PARTITION BY tok ORDER BY doc_id) <= {D.PREFIX_CAP}
),
idx AS (
  SELECT doc_id, tok, p, n_toks FROM ranked
  QUALIFY row_number() OVER (PARTITION BY tok ORDER BY doc_id) <= {D.PREFIX_CAP}
),
g AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         MIN(a.p) AS fa, MIN(b.p) AS fb,
         ANY_VALUE(a.n_toks) AS n_a, ANY_VALUE(b.n_toks) AS n_b
  FROM pref a JOIN idx b USING (tok)
  WHERE a.doc_id <> b.doc_id AND 10 * b.n_toks >= 9 * a.n_toks
  GROUP BY 1, 2
),
cands AS (
  SELECT doc_a, doc_b FROM g
  WHERE 1 + least(n_a - fa, n_b - fb) >= (9 * n_a + 9) // 10
),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cands c
  JOIN toks ta ON ta.doc_id = c.doc_a
  JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       CAST(sa.n_toks AS BIGINT) AS n_a,
       CAST(sb.n_toks AS BIGINT) AS n_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST((1000 * n_inter) // sa.n_toks AS BIGINT) AS containment_milli
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE 10 * n_inter >= 9 * sa.n_toks
"""


def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global passage-level dedup with document reassembly: fixed 16-word
    passages, keep-first-occurrence corpus-wide by (doc_id, pos), per-doc
    survivor counts + md5 of the reassembled clean text.  The
    intra-document tier doc-level dedup cannot express; see
    operators/dedup.passage_dedup."""
    return D.passage_dedup(D.planted_corpus(spark, sf_dir))


ORA_DEDUP_PASSAGES = f"""
WITH {D.ORA_CORPUS},
base AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
paras AS (
  SELECT doc_id, u.pos AS pos, u.para AS para FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, (len(words) + {D.PASSAGE_WORDS - 1}) // {D.PASSAGE_WORDS}),
             i -> struct_pack(pos := i,
                              para := array_to_string(list_slice(words, i * {D.PASSAGE_WORDS} + 1,
                                                                 i * {D.PASSAGE_WORDS} + {D.PASSAGE_WORDS}), ' ')))) AS u
    FROM base
  )
),
flagged AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) = 1 AS kept
  FROM paras
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(coalesce(SUM(CASE WHEN kept THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(para, ' ' ORDER BY pos) FILTER (WHERE kept), '')) AS clean_md5
FROM flagged GROUP BY doc_id
"""


def q_dedup_agreement_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tier dedup AGREEMENT report: the pair sets found by the two
    independent blocking strategies — MinHash-LSH signatures (probabilistic
    candidates, exact verify) and the prefix-filtered inverted index
    (deterministic candidates, exact verify) — compared head to head.
    Both tiers verify with the same exact Jaccard at the same threshold,
    so disagreement isolates BLOCKING misses: pairs one tier's candidate
    generation never surfaced.  This is the audit that tells an operator
    how much recall each tier's caps/bands actually cost on their corpus,
    as exact integers (milli-ratios via integer division — no float).

    Shape: BOTH tiers read staged pair tables (the signature tier's
    pair graph and a staged copy of the prefix tier's pairs — each
    derivation is deterministic, so the staged copies are value-identical
    to the live pipelines the oracles replay); one full outer join of two
    edge lists + one single-row aggregate."""
    mh = _staged_pair_graph(spark, sf_dir).select("doc_a", "doc_b")
    px = _staged_prefix_pairs(spark, sf_dir).select("doc_a", "doc_b")
    j = mh.withColumn("in_mh", F.lit(1)).join(
        px.withColumn("in_px", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    # SUM over zero rows is NULL in Spark while the oracle's scalar
    # COUNT(*) subqueries return 0 — coalesce so a dup-free corpus agrees.
    agg = j.agg(
        F.coalesce(F.sum(F.coalesce("in_mh", F.lit(0))), F.lit(0)).cast("bigint").alias("n_minhash"),
        F.coalesce(F.sum(F.coalesce("in_px", F.lit(0))), F.lit(0)).cast("bigint").alias("n_prefix"),
        F.coalesce(
            F.sum(
                F.when(F.col("in_mh").isNotNull() & F.col("in_px").isNotNull(), 1).otherwise(0)
            ),
            F.lit(0),
        ).cast("bigint").alias("n_common"),
    )
    return agg.select(
        "n_minhash",
        "n_prefix",
        "n_common",
        F.expr("(1000 * n_common) div n_prefix").cast("bigint").alias(
            "agree_vs_prefix_milli"
        ),
        F.expr("(1000 * n_common) div n_minhash").cast("bigint").alias(
            "agree_vs_minhash_milli"
        ),
    )


ORA_DEDUP_AGREEMENT = f"""
WITH mh AS (SELECT doc_a, doc_b FROM ({ORA_DEDUP_MINHASH_NGRAM}) t),
px AS (SELECT doc_a, doc_b FROM ({ORA_DEDUP_JACCARD_PREFIX}) t),
counts AS (
  SELECT (SELECT COUNT(*) FROM mh) AS n_minhash,
         (SELECT COUNT(*) FROM px) AS n_prefix,
         (SELECT COUNT(*) FROM mh JOIN px USING (doc_a, doc_b)) AS n_common
)
SELECT n_minhash, n_prefix, n_common,
       CAST((1000 * n_common) // n_prefix AS BIGINT) AS agree_vs_prefix_milli,
       CAST((1000 * n_common) // n_minhash AS BIGINT) AS agree_vs_minhash_milli
FROM counts
"""


_PREFIX_PAIR_DIRS: dict[str, str] = {}


def _staged_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged copy of the prefix-filter tier's verified pairs — the second
    maintained pairs table (same pattern as _staged_pair_graph), consumed
    by the cross-tier agreement audit so it never re-derives the PPJoin
    from raw text per call.  `dedup_jaccard_prefix` itself keeps deriving
    live (the derivation is what its oracle proves); this staging is
    value-identical because the pipeline is deterministic."""
    import atexit
    import shutil
    import tempfile

    key = f"{id(spark._jsparkSession)}:{sf_dir}"
    path = _PREFIX_PAIR_DIRS.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="prefix_pairs_")
        D.prefix_filter_pairs(D.planted_corpus(spark, sf_dir)).select(
            "doc_a", "doc_b"
        ).write.mode("overwrite").parquet(path)
        _PREFIX_PAIR_DIRS[key] = path
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return spark.read.parquet(path)


_PAIR_GRAPH_DIRS: dict[str, str] = {}


def _staged_pair_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified n-gram near-dup pair graph as a MAINTAINED TABLE:
    staged once per (session, corpus) via operators/dedup.stage_pair_graph,
    then read by every graph analytics query (components, PageRank,
    triangles).  One tokenize/sign/band/verify pass total — the trio's
    plans contain only parquet scans + joins, never a re-derivation from
    raw text.  Locally the table lives in a scratch dir for the session's
    lifetime; on a cluster it is the dedup pipeline's published pairs
    table."""
    import atexit
    import shutil
    import tempfile

    key = f"{id(spark._jsparkSession)}:{sf_dir}"
    path = _PAIR_GRAPH_DIRS.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="pair_graph_")
        D.stage_pair_graph(D.planted_corpus(spark, sf_dir), path, threshold=0.8)
        _PAIR_GRAPH_DIRS[key] = path
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return spark.read.parquet(path)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the n-gram near-dup pairs: turns pairwise
    matches into canonical duplicate groups (doc_id -> min-doc component
    id) via iterative min-label propagation — the step between "pairs
    found" and "corpus deduplicated" that per-pair queries stop short of.
    Reads the staged pair-graph table (one candidate-generation pass
    shared by the whole graph trio)."""
    return D.dup_components(_staged_pair_graph(spark, sf_dir))


# The oracle replays the fixpoint as a recursive transitive closure over the
# symmetric pair graph: component_id(doc) = min(doc, min reachable doc).
_ORA_COMPONENT_CTES = f"""pairs AS (
  SELECT doc_a, doc_b FROM ({ORA_DEDUP_MINHASH_NGRAM}) t
),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
),
comp AS (
  SELECT src AS doc_id, least(src, MIN(dst)) AS component_id
  FROM reach GROUP BY src
)"""

ORA_DEDUP_COMPONENTS = f"""
WITH RECURSIVE {_ORA_COMPONENT_CTES}
SELECT doc_id, component_id FROM comp
"""


_CONTAINMENT_DIRS: dict[str, str] = {}


def _staged_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The directed containment pair table, staged once per (session,
    corpus) — same maintained-table pattern as _staged_pair_graph: the
    derivation (operators/dedup.containment_pairs) is deterministic, so
    downstream consumers read a parquet table instead of re-running the
    prefix/index/verify pipeline per query."""
    import atexit
    import shutil
    import tempfile

    key = f"{id(spark._jsparkSession)}:{sf_dir}"
    path = _CONTAINMENT_DIRS.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="containment_pairs_")
        D.containment_pairs(D.planted_corpus(spark, sf_dir)).write.mode(
            "overwrite"
        ).parquet(path)
        _CONTAINMENT_DIRS[key] = path
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return spark.read.parquet(path)


def q_dedup_keep_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End of the CONTAINMENT funnel: the kept corpus after dropping
    contained documents — the actionable step the directed pair list
    enables (Jaccard tiers cannot say WHICH side to drop; containment
    can: the contained one).  Policy: a doc is dropped iff it is >=90%
    contained in another doc, EXCEPT mutual containment (exact/near-exact
    twins appear as both (a,b) and (b,a)) where the lower doc_id survives
    — so every duplicate class keeps exactly one representative and
    chains (A ⊂ B ⊂ C) keep only the outermost C.  One self-join of the
    (tiny) pair table + one anti-join against the corpus — the corpus
    itself is never shuffled.  Reads the staged containment-pairs table
    (one prefix/index/verify pass per session, the trio pattern)."""
    corpus = D.planted_corpus(spark, sf_dir)
    p = _staged_containment_pairs(spark, sf_dir).select("doc_a", "doc_b")
    rev = p.select(
        F.col("doc_a").alias("doc_b"), F.col("doc_b").alias("doc_a")
    ).withColumn("mutual", F.lit(1))
    drops = (
        p.join(rev, ["doc_a", "doc_b"], "left")
        .filter(F.col("mutual").isNull() | (F.col("doc_b") < F.col("doc_a")))
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    return corpus.join(drops, "doc_id", "left_anti").select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars")
    )


ORA_DEDUP_KEEP_CONTAINMENT = f"""
WITH {D.ORA_CORPUS},
cpairs AS (
  SELECT doc_a, doc_b FROM ({ORA_DEDUP_CONTAINMENT}) t
),
drops AS (
  SELECT DISTINCT p.doc_a AS doc_id
  FROM cpairs p
  LEFT JOIN cpairs q ON q.doc_a = p.doc_b AND q.doc_b = p.doc_a
  WHERE q.doc_a IS NULL OR p.doc_b < p.doc_a
)
SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS n_chars
FROM corpus c ANTI JOIN drops d ON c.doc_id = d.doc_id
"""


def q_recursive_cte_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 RECURSIVE CTE executing a data-driven graph recursion —
    the transitive closure (with min hop depth) of the near-dup pair
    graph.  The components oracle has replayed Spark's ITERATIVE
    min-label loop with DuckDB's WITH RECURSIVE since r6; this query is
    the inversion: Spark itself runs `WITH RECURSIVE` (new in Spark 4.0)
    and DuckDB replays it CTE-for-CTE.  The edge list is oriented
    doc_a < doc_b (a DAG — staged pairs are already low->high), so UNION
    ALL recursion terminates; a depth guard (< 20) additionally bounds the
    recursion on any corpus, the 100 TB posture for unknown graph shapes
    (Spark's own spark.sql.cte.recursion.level.limit backstops at 100).
    Reads the staged pair-graph table like the rest of the graph trio."""
    pg = _staged_pair_graph(spark, sf_dir)
    pg.select("doc_a", "doc_b").createOrReplaceTempView("dup_edges_rcte")
    return spark.sql(
        """
WITH RECURSIVE reach(src, dst, depth) AS (
  SELECT doc_a, doc_b, 1 FROM dup_edges_rcte
  UNION ALL
  SELECT r.src, e.doc_b, r.depth + 1
  FROM reach r JOIN dup_edges_rcte e ON r.dst = e.doc_a
  WHERE r.depth < 20
)
SELECT src AS doc_a, dst AS doc_b, CAST(MIN(depth) AS BIGINT) AS min_depth
FROM reach GROUP BY src, dst
"""
    )


ORA_RECURSIVE_CTE_CLOSURE = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({ORA_DEDUP_MINHASH_NGRAM}) t
),
reach(src, dst, depth) AS (
  SELECT doc_a, doc_b, 1 FROM pairs
  UNION ALL
  SELECT r.src, e.doc_b, r.depth + 1
  FROM reach r JOIN pairs e ON r.dst = e.doc_a
  WHERE r.depth < 20
)
SELECT src AS doc_a, dst AS doc_b, CAST(MIN(depth) AS BIGINT) AS min_depth
FROM reach GROUP BY src, dst
"""


def q_dedup_keep_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End of the near-dup funnel: the kept corpus.  Every doc that is a
    non-canonical member of a duplicate component (component_id != doc_id)
    is dropped via a left-anti join; canonical representatives and
    untouched docs survive.  One anti-join against the (tiny) component
    frame — the corpus itself is never shuffled.  Reads the staged
    pair-graph table (r8), same as the rest of the graph funnel — the
    funnel end shares the one candidate-generation pass instead of
    re-deriving it."""
    corpus = D.planted_corpus(spark, sf_dir)
    pairs = _staged_pair_graph(spark, sf_dir)
    drop = (
        D.dup_components(pairs)
        .filter(F.col("doc_id") != F.col("component_id"))
        .select("doc_id")
    )
    return corpus.join(drop, "doc_id", "left_anti").select("doc_id")


ORA_DEDUP_KEEP_CORPUS = f"""
WITH RECURSIVE {D.ORA_CORPUS},
{_ORA_COMPONENT_CTES}
SELECT c.doc_id FROM corpus c
WHERE c.doc_id NOT IN (
  SELECT doc_id FROM comp WHERE doc_id <> component_id
)
"""


def q_bm25_term_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 contributions of one query doc's terms against the corpus —
    per-term rows (a float per-doc SUM would be shuffle-order-dependent
    and break hash parity; the per-term score is a fixed IEEE dag over
    exact integers both engines evaluate bit-identically)."""
    return T.bm25_term_scores(load_table(spark, sf_dir, "documents"), query_doc_id=17)


# Same expression dag as operators/text.bm25_term_scores, constants folded
# the same way Python folds them (k1+1 -> 2.2, 1-b -> 0.25).
ORA_BM25_TERM_SCORES = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
toks2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks2 GROUP BY doc_id, term),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks2 GROUP BY doc_id),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
totals AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl),
q AS (SELECT DISTINCT term FROM toks2 WHERE doc_id = 17)
SELECT tf.doc_id, tf.term,
       (CAST(2 * t.n_docs - 2 * df.df + 1 AS DOUBLE) / CAST(2 * df.df + 1 AS DOUBLE))
       * ((CAST(tf.tf AS DOUBLE) * {BM25_K1 + 1}) /
          (CAST(tf.tf AS DOUBLE) + {BM25_K1} * ({1 - BM25_B} + {BM25_B} *
            (CAST(dl.dl AS DOUBLE) / (CAST(t.total_len AS DOUBLE) / CAST(t.n_docs AS DOUBLE))))))
       AS bm25
FROM tf
JOIN q USING (term)
JOIN df USING (term)
JOIN dl USING (doc_id)
CROSS JOIN totals t
WHERE tf.doc_id <> 17
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: the planted copies (doc_id >= 1000000) play
    "today's batch" against the original documents as the existing corpus —
    the asymmetric delta-vs-base shape a daily-ingest pipeline runs instead
    of re-deduplicating the whole corpus per batch."""
    corpus = D.planted_corpus(spark, sf_dir)
    base = corpus.filter(F.col("doc_id") < 1000000)
    delta = corpus.filter(F.col("doc_id") >= 1000000)
    return D.incremental_near_dup(base, delta, threshold=0.8)


def q_dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup against a MATERIALIZED base index: the staging
    job writes the base band/shingle/size tables to parquet once, then the
    delta batch runs with no base tokenize at all (three index scans
    replace it) — proving the 'precomputed base index' claim the in-memory
    twin only documents.  Value-identical to dedup_incremental, so the two
    share one oracle.

    Staging is amortized exactly like the production maintenance job: the
    index lives at a path keyed by the source file's identity fingerprint
    (path + mtime + size), so repeat invocations — the bench's median-of-3,
    a daily delta batch — pay ONLY delta-side work, while a regenerated
    corpus invalidates the key and restages.  Honors SPARK_GRAFT_SCRATCH
    (shared-FS on a real cluster; local tmp here)."""
    corpus = D.planted_corpus(spark, sf_dir)
    delta = corpus.filter(F.col("doc_id") >= 1000000)
    idx = staged_base_index(spark, sf_dir)
    return D.incremental_near_dup_indexed(spark, idx, delta, threshold=0.8)


def _staged_index(
    spark: SparkSession,
    sf_dir: str,
    src_table: str,
    prefix: str,
    success_subdir: str,
    build,
) -> str:
    """The ONE staging boilerplate every maintained index shares (near-dup
    bands, containment, exact-hash, IVF, quality fit): the index lives at
    a scratch path keyed by the SOURCE FILE's identity fingerprint
    (path:mtime:size), so repeat invocations — the bench's median-of-N,
    a daily delta batch — pay only delta-side work, while a regenerated
    corpus invalidates the key and restages.  The _SUCCESS marker of the
    LAST-written sub-table doubles as the whole-index completeness flag
    (a partially-staged index restages).  Honors SPARK_GRAFT_SCRATCH
    (shared-FS location on a real cluster; local tmp here).  One
    definition, so the fingerprint scheme can never drift between the
    five indexes that used to each carry a private copy of this logic.

    ``build(idx_path)`` materializes the index's sub-tables under the
    given path, writing ``success_subdir`` last.

    Concurrency (r19): the build lands in a PROCESS-PRIVATE temp dir that
    is atomically ``os.rename``d onto the final path — two processes
    staging the same fingerprint each build their own copy and exactly
    one rename wins; the loser discards its copy and reads the winner's
    (the pattern relational's avro-container staging already follows).
    Building in place let a second process observe — and read — a
    half-written index dir whose marker landed before sibling sub-tables
    finished."""
    import hashlib
    import os
    import shutil
    import tempfile

    src = os.path.join(sf_dir, f"{src_table}.parquet")
    tag = hashlib.md5(
        f"{src}:{os.path.getmtime(src)}:{os.path.getsize(src)}".encode()
    ).hexdigest()[:12]
    root = os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir())
    idx = os.path.join(root, f"{prefix}_{tag}")
    marker = os.path.join(idx, success_subdir, "_SUCCESS")
    if os.path.exists(marker):
        return idx
    stage = tempfile.mkdtemp(prefix=f"{prefix}_{tag}_stage_", dir=root)
    try:
        build(stage)
        for _ in range(2):
            try:
                os.rename(stage, idx)
                break
            except OSError:
                if os.path.exists(marker):
                    break  # a concurrent stager won the rename — use theirs
                # the final path exists WITHOUT a complete marker: a legacy
                # in-place partial from a pre-r19 crash — replace it
                shutil.rmtree(idx, ignore_errors=True)
        else:
            if not os.path.exists(marker):
                raise RuntimeError(
                    f"index staging race left no complete index at {idx}"
                )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return idx


def _logic_fp(*fns) -> str:
    """Deterministic fingerprint of the given functions' COMPILED logic —
    bytecode plus literal constants, nested code objects walked, docstrings
    skipped — folded into a staged index's path prefix so a change to the
    delta-builder / gate logic RESTAGES the index instead of serving one
    built under the old rules from scratch (ADVICE r18: the n_lists tag
    already does this for the layout knob; this does it for the code).
    Stable across processes: only co_code bytes and repr of non-code
    constants are hashed, never object identities."""
    import hashlib

    h = hashlib.md5()

    def walk(code) -> None:
        h.update(code.co_code)
        for i, c in enumerate(code.co_consts):
            if hasattr(c, "co_code"):
                walk(c)
            elif not (i == 0 and isinstance(c, str)):  # skip docstrings
                h.update(repr(c).encode())

    for fn in fns:
        walk(fn.__code__)
    return h.hexdigest()[:8]


def staged_base_index(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per corpus fingerprint) the incremental-dedup base
    index over the raw documents table and return its path.  Shared by
    the batch indexed query, the streaming foreachBatch twin, and the
    admission funnel's near-dup gate — the base side of all three is the
    same frame (planted_corpus below 1000000 IS the raw documents
    table), so they read one maintained index, exactly as a daily-ingest
    pipeline would.  toks_arr is written LAST in stage_base_index, so
    its _SUCCESS marker means the whole index is complete (and pre-r11
    indexes lacking the array frame restage)."""
    return _staged_index(
        spark,
        sf_dir,
        "documents",
        "dedup_base_idx",
        "toks_arr",
        lambda idx: D.stage_base_index(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"), idx
        ),
    )


def _containment_delta(docs: DataFrame) -> DataFrame:
    """The synthetic ingest stream for the incremental-containment pair:
    two-thirds-length text PREFIXES (every character 5-gram of a prefix
    occurs in the full doc, so these are contained at 1000 milli) from
    docs with doc_id % 3 == 0, plus REVERSED texts (shingle sets disjoint
    from the originals except degenerate short/repetitive docs — the
    verify decides) from doc_id % 3 == 1.  Replayed verbatim in SQL by
    the oracle."""
    pre = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.expr(
            "substring(text, 1, greatest((2 * length(text)) div 3, 5))"
        ).alias("text"),
    )
    rev = docs.filter(F.col("doc_id") % 3 == 1).select(
        (F.col("doc_id") + 4000000).alias("doc_id"),
        F.reverse("text").alias("text"),
    )
    return pre.unionByName(rev)


def staged_containment_index(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per corpus fingerprint) the containment base index
    over the raw documents table and return its path — the directed
    analog of staged_base_index, shared by the batch incremental query
    and the streaming foreachBatch twin.  carrs is written LAST in
    stage_containment_index, so its _SUCCESS marker means the whole
    index is complete."""
    return _staged_index(
        spark,
        sf_dir,
        "documents",
        "containment_idx",
        "carrs",
        lambda idx: D.stage_containment_index(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"), idx
        ),
    )


def q_dedup_containment_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DIRECTED containment: a synthetic ingest batch
    (text prefixes = true inclusions, reversed texts = noise) probes the
    staged containment index of the documents corpus — "is this new doc
    already contained in something we have?", the delta-vs-base shape of
    dedup_containment.  Base-side tables stay parquet scans probed by
    broadcasts of delta frames; see operators/dedup.containment_vs_base_batch."""
    delta = _containment_delta(load_table(spark, sf_dir, "documents"))
    idx = staged_containment_index(spark, sf_dir)
    return D.containment_vs_base_batch(spark, idx, delta)


def _ingest_delta(docs: DataFrame) -> DataFrame:
    """The synthetic ingest stream for the admission funnel: the
    containment pair's delta (prefixes = contained, reversed = noise)
    plus a third arm of EXACT copies (doc_id % 3 == 2, re-keyed above
    5000000) and a fourth arm of NEAR-DUP edits (same docs re-keyed
    above 7000000 with ~1/6 of the doc's reversed text APPENDED) so
    every funnel gate has positives.  The appended-tail shape is chosen
    to be exactly what the near-dup gate exists to catch: adding
    material keeps Jaccard high (~0.84 for typical lengths, above the
    0.8 LSH threshold) while pushing directed containment of the NEW
    doc below its 0.9 threshold (the tail's reversed-text shingles are
    not in the base), so the doc clears gates 1-2 and is caught only by
    gate 3.  Replayed verbatim in SQL by the funnel oracle."""
    exact = docs.filter(F.col("doc_id") % 3 == 2).select(
        (F.col("doc_id") + 5000000).alias("doc_id"), "text"
    )
    tail = F.expr("substring(reverse(text), 1, greatest(length(text) div 6, 6))")
    near = docs.filter(F.col("doc_id") % 3 == 2).select(
        (F.col("doc_id") + 7000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" "), tail).alias("text"),
    )
    return _containment_delta(docs).unionByName(exact).unionByName(near)


def staged_hash_index(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per corpus fingerprint) the exact-dup hash index over
    the raw documents table and return its path — the cheapest arm of
    the admission funnel, maintained exactly like the containment/ANN
    indexes."""
    from ..operators import ingest as I

    return _staged_index(
        spark,
        sf_dir,
        "documents",
        "ingest_hash_idx",
        "bh",
        lambda idx: I.stage_hash_index(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"), idx
        ),
    )


def q_ingest_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END ingest-admission funnel: a synthetic ingest batch
    (exact copies + contained prefixes + appended-tail near-dups +
    reversed noise) flows through the exact-hash gate, then (survivors
    only) the staged-containment gate, then (doubly-cleared survivors
    only) the staged MinHash band-index near-dup gate, then the quality
    gate, and every doc gets an admit/reject decision with per-gate
    flags — the composed decision a production corpus makes per
    incoming document.  See operators/ingest."""
    delta = _ingest_delta(load_table(spark, sf_dir, "documents"))
    cidx = staged_containment_index(spark, sf_dir)
    hidx = staged_hash_index(spark, sf_dir)
    bidx = staged_base_index(spark, sf_dir)
    from ..operators import ingest as I

    return I.ingest_admission_batch(spark, cidx, hidx, bidx, delta)


def _ora_shingles_over(src: str, name: str) -> str:
    """The ORA_SHINGLES CTE parametrized over its source relation."""
    return (
        f"{name} AS (SELECT DISTINCT doc_id, "
        "unnest(list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1), "
        f"i -> {_ora_gram_hash()}"
        "))) AS tok FROM (SELECT doc_id, "
        f"list_transform(string_split(text, ''), c -> ascii(c)) AS codes, text FROM {src}))"
    )


# The containment delta CTE body, shared verbatim by the containment pair's
# oracle and the ingest-admission funnel's (which appends an exact-copy arm).
_ORA_CONTAINMENT_DELTA = """
  SELECT doc_id + 3000000 AS doc_id,
         substring(text, 1, greatest((2 * length(text)) // 3, 5)) AS text
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 4000000 AS doc_id, reverse(text) AS text
  FROM documents WHERE doc_id % 3 = 1"""


def _ora_containment_probe(delta_src: str) -> str:
    """The staged-index containment probe as a CTE chain parametrized over
    the delta relation: base df is the global order statistic (delta
    tokens unseen in the base take df 0), the A-side prefix
    n_a - ceil(9 n_a/10) + 1 with per-token caps on both the prefix and
    the full base index, the n_b >= ceil(0.9 n_a) size prune, the
    positional upper bound, ending at the exact intersection counts
    (inter) plus both size tables.  Shared by the containment pair's
    oracle (delta_src='delta') and the ingest-admission funnel's
    (delta_src='ne' — the not-exact sliver)."""
    return f"""{_ora_shingles_over("documents", "btoks")},
{_ora_shingles_over(delta_src, "dtoks")},
df AS (SELECT tok, COUNT(*) AS df FROM btoks GROUP BY tok),
bsizes AS (SELECT doc_id, COUNT(*) AS n_toks FROM btoks GROUP BY doc_id),
dsizes AS (SELECT doc_id, COUNT(*) AS n_toks FROM dtoks GROUP BY doc_id),
bidx AS (
  SELECT t.doc_id AS base_id, t.tok, s.n_toks AS n_b,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS pb
  FROM btoks t JOIN df d USING (tok) JOIN bsizes s USING (doc_id)
  QUALIFY row_number() OVER (PARTITION BY t.tok ORDER BY t.doc_id)
          <= {D.PREFIX_CAP}
),
dranked AS (
  SELECT t.doc_id, t.tok, s.n_toks,
         row_number() OVER (
           PARTITION BY t.doc_id ORDER BY coalesce(d.df, 0), t.tok
         ) AS p
  FROM dtoks t LEFT JOIN df d USING (tok) JOIN dsizes s USING (doc_id)
),
dpref AS (
  SELECT doc_id, tok, p, n_toks FROM dranked
  WHERE p <= n_toks - (9 * n_toks + 9) // 10 + 1
  QUALIFY row_number() OVER (PARTITION BY tok ORDER BY doc_id) <= {D.PREFIX_CAP}
),
g AS (
  SELECT a.doc_id AS delta_id, b.base_id,
         MIN(a.p) AS fa, MIN(b.pb) AS fb,
         ANY_VALUE(a.n_toks) AS n_a, ANY_VALUE(b.n_b) AS n_b
  FROM dpref a JOIN bidx b USING (tok)
  WHERE 10 * b.n_b >= 9 * a.n_toks
  GROUP BY 1, 2
),
cands AS (
  SELECT delta_id, base_id FROM g
  WHERE 1 + least(n_a - fa, n_b - fb) >= (9 * n_a + 9) // 10
),
inter AS (
  SELECT c.delta_id, c.base_id, COUNT(*) AS n_inter
  FROM cands c
  JOIN dtoks ta ON ta.doc_id = c.delta_id
  JOIN btoks tb ON tb.doc_id = c.base_id AND tb.tok = ta.tok
  GROUP BY c.delta_id, c.base_id
)"""


ORA_DEDUP_CONTAINMENT_INCREMENTAL = f"""
WITH delta AS ({_ORA_CONTAINMENT_DELTA}
),
{_ora_containment_probe("delta")}
SELECT i.delta_id, i.base_id,
       CAST(sa.n_toks AS BIGINT) AS n_a,
       CAST(sb.n_toks AS BIGINT) AS n_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST((1000 * n_inter) // sa.n_toks AS BIGINT) AS containment_milli
FROM inter i
JOIN dsizes sa ON sa.doc_id = i.delta_id
JOIN bsizes sb ON sb.doc_id = i.base_id
WHERE 10 * n_inter >= 9 * sa.n_toks
"""


ORA_DEDUP_INCREMENTAL = f"""
WITH {D.ORA_CORPUS},
{ORA_SHINGLES},
hashed AS ({_ORA_AB_SPLIT}),
sigs AS (
  SELECT doc_id, seed, MIN((a + seed * (2*b + 1)) % {D.MINHASH_PRIME}) AS sig
  FROM hashed CROSS JOIN (SELECT unnest([{_MINHASH_SEEDS}]) AS seed) seeds
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // {D.BAND_ROWS} AS band_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list(sig ORDER BY seed)),
                     (acc, s) -> (acc * {D.SHINGLE_B} + s) % {D.SHINGLE_P}) AS band_key
  FROM sigs GROUP BY doc_id, seed // {D.BAND_ROWS}
),
base_capped AS (
  SELECT doc_id, band_id, band_key FROM bands WHERE doc_id < 1000000
  QUALIFY row_number() OVER (PARTITION BY band_id, band_key ORDER BY doc_id)
          <= {D.MAX_BUCKET}
),
delta_capped AS (
  SELECT doc_id, band_id, band_key FROM bands WHERE doc_id >= 1000000
  QUALIFY row_number() OVER (PARTITION BY band_id, band_key ORDER BY doc_id)
          <= {D.MAX_BUCKET}
),
cands AS (
  SELECT DISTINCT d.doc_id AS delta_id, b.doc_id AS base_id
  FROM delta_capped d JOIN base_capped b
    ON d.band_id = b.band_id AND d.band_key = b.band_key
),
sizes AS (SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id),
inter AS (
  SELECT c.delta_id, c.base_id, COUNT(*) AS n_inter
  FROM cands c
  JOIN toks ta ON ta.doc_id = c.base_id
  JOIN toks tb ON tb.doc_id = c.delta_id AND tb.tok = ta.tok
  GROUP BY c.delta_id, c.base_id
)
SELECT i.delta_id, i.base_id,
       CAST(n_inter AS DOUBLE) / CAST(sa.n_toks + sb.n_toks - n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.base_id
JOIN sizes sb ON sb.doc_id = i.delta_id
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_toks + sb.n_toks - n_inter AS DOUBLE) >= 0.8
"""


def q_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch of corpus token frequencies — exact-integer cells
    the oracle reproduces cell-for-cell (see operators/text.countmin_sketch)."""
    return T.countmin_sketch(load_table(spark, sf_dir, "documents"))


ORA_COUNTMIN_SKETCH = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
keys AS (
  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
         (acc, c) -> (acc * {D.SHINGLE_B} + c) % {D.SHINGLE_P}) AS wk
  FROM toks WHERE tok <> ''
),
ab AS (SELECT wk % {D.MINHASH_PRIME} AS a, wk % {D.MINHASH_PRIME_B} AS b FROM keys),
cells AS (
  SELECT r.row_id, (a + r.row_id * (2 * b + 1)) % {D.MINHASH_PRIME} % {T.CMS_WIDTH} AS col
  FROM ab CROSS JOIN (SELECT unnest(range({T.CMS_DEPTH})) AS row_id) r
)
SELECT CAST(row_id AS INT) AS row_id, col, COUNT(*) AS cnt
FROM cells GROUP BY row_id, col
"""


def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table over the corpus vocabulary — the portable
    value-exact complement to approx_distinct (see operators/text)."""
    return T.hll_registers(load_table(spark, sf_dir, "documents"))


ORA_HLL_REGISTERS = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
keys AS (
  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
         (acc, c) -> (acc * {D.SHINGLE_B} + c) % {D.SHINGLE_P}) AS wk
  FROM toks WHERE tok <> ''
),
bw AS (SELECT wk % {1 << T.HLL_P} AS bucket, wk // {1 << T.HLL_P} AS w FROM keys)
SELECT bucket,
       MAX(CASE WHEN w = 0 THEN {T.HLL_SUFFIX_BITS + 1}
                ELSE {T.HLL_SUFFIX_BITS + 1} - length(bin(w)) END) AS register
FROM bw GROUP BY bucket
"""


def q_hll_window_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day unique-users via daily HLL registers merged with a
    RANGE window MAX — the sketch-merge pattern that replaces seven days of
    raw-event re-scans at 100 TB (see operators/text.hll_window_merge)."""
    return T.hll_window_merge(load_table(spark, sf_dir, "events"))


ORA_HLL_WINDOW_MERGE = f"""
WITH keyed AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
         (user_id * {T.HLL_USER_MULT}) % {D.SHINGLE_P} AS wk
  FROM events
), bw AS (
  SELECT day_num, wk % {1 << T.HLL_P} AS bucket, wk // {1 << T.HLL_P} AS w
  FROM keyed
), daily AS (
  SELECT day_num, bucket,
         MAX(CASE WHEN w = 0 THEN {T.HLL_SUFFIX_BITS + 1}
                  ELSE {T.HLL_SUFFIX_BITS + 1} - length(bin(w)) END) AS register
  FROM bw GROUP BY day_num, bucket
), days AS (SELECT DISTINCT day_num FROM daily),
grid AS (
  SELECT day_num, unnest(range(0, {1 << T.HLL_P})) AS bucket FROM days
), merged AS (
  SELECT g.day_num,
         MAX(d.register) OVER (
           PARTITION BY g.bucket ORDER BY g.day_num
           RANGE BETWEEN {T.HLL_WIN_DAYS - 1} PRECEDING AND CURRENT ROW
         ) AS merged_register
  FROM grid g LEFT JOIN daily d ON g.day_num = d.day_num AND g.bucket = d.bucket
)
SELECT day_num, COUNT(*) AS n_active_buckets,
       CAST(SUM(merged_register) AS BIGINT) AS register_sum
FROM merged WHERE merged_register IS NOT NULL GROUP BY day_num
"""


def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage detector: hashed 64-char windows at stride 16,
    corpus-wide repeat filter, per-doc merged duplication spans (see
    operators/dedup.substring_dup_spans).  Runs over the planted corpus so
    exact copies guarantee real cross-doc repeated windows at any SF."""
    return D.substring_dup_spans(D.planted_corpus(spark, sf_dir))


def q_dedup_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup tier: prefix- AND suffix-blocked candidates
    verified with threshold-bounded Levenshtein (integer metric, built into
    both engines) — catches short-edit duplicates at either end of the text
    (leading/trailing stamps, boilerplate) without all-pairs."""
    return D.editdistance_near_dup(D.planted_corpus(spark, sf_dir))


ORA_DEDUP_EDITDISTANCE = f"""
WITH {D.ORA_CORPUS},
keyed AS (
  SELECT doc_id, text, 'p:' || substring(text, 1, 32) AS blk FROM corpus
  UNION ALL
  SELECT doc_id, text, 's:' || substring(reverse(text), 1, 32) AS blk FROM corpus
),
capped AS (
  SELECT doc_id, text, blk FROM keyed
  QUALIFY row_number() OVER (PARTITION BY blk ORDER BY doc_id) <= {D.MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.text AS text_a, b.text AS text_b
  FROM capped a JOIN capped b ON a.blk = b.blk AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, levenshtein(text_a, text_b) AS edit_distance
FROM cand
WHERE levenshtein(text_a, text_b) <= 4
"""


def q_length_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-distribution drift vs the corpus-wide distribution
    (chi-square cell table) — see operators/text.length_drift_report."""
    return T.length_drift_report(load_table(spark, sf_dir, "documents"))


_DRIFT_EXPECTED = (
    "CAST(bt.bucket_n AS DOUBLE) * CAST(st.source_n AS DOUBLE) / CAST(g.grand_n AS DOUBLE)"
)
ORA_LENGTH_DRIFT = f"""
WITH cells AS (
  SELECT source, CAST(floor(n_chars / {T.DRIFT_BUCKET_WIDTH}) * {T.DRIFT_BUCKET_WIDTH} AS BIGINT) AS bucket
  FROM documents
),
obs AS (SELECT source, bucket, COUNT(*) AS n FROM cells GROUP BY source, bucket),
bt AS (SELECT bucket, COUNT(*) AS bucket_n FROM cells GROUP BY bucket),
st AS (SELECT source, COUNT(*) AS source_n FROM cells GROUP BY source),
g AS (SELECT COUNT(*) AS grand_n FROM cells)
SELECT o.source, o.bucket, o.n,
       {_DRIFT_EXPECTED} AS expected,
       (CAST(o.n AS DOUBLE) - {_DRIFT_EXPECTED})
         * (CAST(o.n AS DOUBLE) - {_DRIFT_EXPECTED})
         / ({_DRIFT_EXPECTED}) AS chi2_term
FROM obs o JOIN bt USING (bucket) JOIN st USING (source) CROSS JOIN g
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_fingerprints(D.planted_corpus(spark, sf_dir))


def _ora_simhash_ctes(bits: int = 16) -> str:
    """Shared CTE chain ending in fp(doc_id, simhash) — used by both the
    fingerprint query and the hamming-1 probe query."""
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (strpos('0123456789abcdef', substring(h, {j + 1}, 1)) - 1) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    terms = " + ".join(f"(CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(bits))
    return f"""{D.ORA_CORPUS},
{ORA_TOKS},
hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
votes AS (
  SELECT doc_id,
         {votes}
  FROM hashed GROUP BY doc_id
),
fp AS (SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM votes)"""


def _ora_simhash(bits: int = 16) -> str:
    return f"WITH {_ora_simhash_ctes(bits)}\nSELECT doc_id, simhash FROM fp"


def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming<=1 SimHash near-dup pairs via bit-flip probing (equi-join,
    never an O(n^2) hamming scan)."""
    return D.simhash_near_dup_pairs(D.planted_corpus(spark, sf_dir))


ORA_SIMHASH_HAMMING = f"""
WITH {_ora_simhash_ctes()},
probes AS (
  SELECT doc_id, simhash AS probe FROM fp
  UNION ALL
  SELECT doc_id, xor(simhash, CAST(1 << j AS BIGINT)) AS probe
  FROM fp, LATERAL unnest(range(0, 16)) AS t(j)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM probes a JOIN fp b ON a.probe = b.simhash
WHERE a.doc_id < b.doc_id
"""


def q_dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-hub scoring: integer fixed-point PageRank over the
    symmetrized VERIFIED n-gram near-dup graph (see
    operators/dedup.dup_pagerank) — template/mirror hubs surface as the
    top-rank docs.  Reads the same staged pair-graph table as components
    and triangles (r8: previously this re-derived a SimHash probe graph of
    its own, a third full pass over raw text; the verified edge list is
    both cheaper and the better hub signal — probe-graph edges on
    exact-copy families are near-clique noise)."""
    return D.dup_pagerank(_staged_pair_graph(spark, sf_dir))


ORA_DEDUP_PAGERANK = f"""
WITH prs AS (
  SELECT doc_a, doc_b FROM ({ORA_DEDUP_MINHASH_NGRAM}) t
),
{D.ORA_DUP_PAGERANK_TAIL}
"""


def q_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the VERIFIED n-gram near-dup graph
    (the same edge list the components funnel consumes) — cluster vs hub
    discrimination.  The verified graph, not the raw SimHash probe graph:
    exact-copy families make the probe graph near-clique, and exact
    triangle counting on a k-clique is Θ(k³) — on the verified pair list
    the edge set is the real dup structure and the wedge join stays
    bounded (see operators/dedup.dup_triangles)."""
    return D.dup_triangles(_staged_pair_graph(spark, sf_dir))


ORA_DEDUP_TRIANGLES = f"""
WITH prs AS (
  SELECT doc_a, doc_b FROM ({ORA_DEDUP_MINHASH_NGRAM}) t
), tris AS (
  SELECT ab.doc_a AS x, ab.doc_b AS y, bc.doc_b AS z
  FROM prs ab
  JOIN prs bc ON bc.doc_a = ab.doc_b
  WHERE EXISTS (
    SELECT 1 FROM prs cl WHERE cl.doc_a = ab.doc_a AND cl.doc_b = bc.doc_b
  )
), corners AS (
  SELECT x AS doc_id FROM tris
  UNION ALL SELECT y FROM tris
  UNION ALL SELECT z FROM tris
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY doc_id
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: plant exact vector copies, block on the
    cluster label (equi-join — no cross product), verify cosine.  The
    per-vector norm is folded ONCE per vector BEFORE the pair join (r14):
    S.cosine refolds both norms per pair, which on the intra-label pair
    frame repeated each vector's norm fold hundreds of times; attaching
    the identical double as a column is value-exact (same IEEE fold, just
    not duplicated per pair)."""
    e = load_table(spark, sf_dir, "embeddings")
    planted = e.unionByName(
        e.filter(F.col("vec_id") % 20 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
        )
    ).withColumn("nrm", S.norm("embedding"))
    a = planted.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        "label",
    )
    b = planted.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        "label",
    )
    pairs = a.join(b, "label").filter(F.col("vec_a") < F.col("vec_b"))
    return (
        pairs.withColumn(
            "cosine",
            S.dot("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b")),
        )
        .filter(F.col("cosine") >= 0.999)
        .select("vec_a", "vec_b", "cosine")
    )


ORA_DEDUP_EMBEDDING = f"""
WITH planted AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding, label FROM embeddings WHERE vec_id % 20 = 0
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_ora_cosine('a.embedding', 'b.embedding')} AS cosine
FROM planted a JOIN planted b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_ora_cosine('a.embedding', 'b.embedding')} >= 0.999
"""


# --- similarity search --------------------------------------------------------


def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC scan: PQ-compressed ANN top-k (asymmetric distance) — queries
    full-precision, corpus as 32-bit codes, distances as table lookups."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.pq_topk(e, e.filter(F.col("vec_id") < 10), k=5)


ORA_SIM_PQ_TOPK = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * {S.PQ_SCALE}) AS BIGINT)) AS qv
  FROM embeddings
), sub AS (
  SELECT vec_id, j, list_slice(qv, j * {S.PQ_SUBDIM} + 1, j * {S.PQ_SUBDIM} + {S.PQ_SUBDIM}) AS sv
  FROM q CROSS JOIN (SELECT unnest(range(0, {S.PQ_SUBS})) AS j)
), cb AS (
  SELECT vec_id AS code, j, sv AS cv FROM sub WHERE vec_id < {S.PQ_CODES}
), scored AS (
  SELECT s.vec_id, s.j, c.code,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(list_zip(s.sv, c.cv),
                            p -> (p[1] - p[2]) * (p[1] - p[2]))),
           (a, x) -> a + x) AS d2
  FROM sub s JOIN cb c USING (j)
), best AS (
  SELECT vec_id, j, code FROM (
    SELECT vec_id, j, code,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
    FROM scored
  ) WHERE rn = 1
), pq AS (
  SELECT vec_id, CAST(SUM(code << CAST(4 * j AS INT)) AS BIGINT) AS pq_key
  FROM best GROUP BY vec_id
), codes AS (
  SELECT vec_id, j, (pq_key >> CAST(4 * j AS INT)) & 15 AS code
  FROM pq CROSS JOIN (SELECT unnest(range(0, {S.PQ_SUBS})) AS j)
), qsub AS (
  SELECT vec_id AS query_id, j, sv AS qsv FROM sub WHERE vec_id < 10
), dt AS (
  SELECT qs.query_id, qs.j, c.code,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(list_zip(qs.qsv, c.cv),
                            p -> (p[1] - p[2]) * (p[1] - p[2]))),
           (a, x) -> a + x) AS d2
  FROM qsub qs JOIN cb c USING (j)
), adist AS (
  SELECT d.query_id, c.vec_id, CAST(SUM(d.d2) AS BIGINT) AS adist_q
  FROM codes c JOIN dt d ON d.j = c.j AND d.code = c.code
  WHERE d.query_id <> c.vec_id
  GROUP BY 1, 2
)
SELECT query_id, vec_id AS neighbor_id, rank, adist_q FROM (
  SELECT query_id, vec_id, adist_q,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist_q, vec_id) AS INT) AS rank
  FROM adist
) t WHERE rank <= 5
"""


def q_sim_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return S.brute_force_topk(e, queries, k=5)


ORA_SIM_BRUTEFORCE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_ora_cosine('q.q_vec', 'e.embedding')} AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank <= 5
"""


def q_sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN — deterministic planes, so the bucket
    assignment AND the in-bucket cosine ranking have a full value oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return S.lsh_topk(e, queries, k=5, n_planes=6)


def _ora_sim_lsh(dim: int = 64, n_planes: int = 6, k: int = 5) -> str:
    planes = S.lsh_hyperplanes(dim=dim, n_planes=n_planes)

    def bucket(vec: str) -> str:
        terms = []
        for j, plane in enumerate(planes):
            arr = "[" + ", ".join(f"{x:.1f}" for x in plane) + "]"
            dot = _DOT.format(a=vec, b=arr)
            terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
        return "(" + " + ".join(terms) + ")"

    return f"""
WITH c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec,
                  {bucket('embedding')} AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS q_vec,
             {bucket('embedding')} AS bucket FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         {_ora_cosine('q.q_vec', 'c.c_vec')} AS cosine
  FROM c JOIN q ON c.bucket = q.bucket
  WHERE c.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank <= {k}
"""


def q_sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine range search (pairs with cosine >= tau) over the
    deterministic LSH buckets — exact verify on candidates, so the full
    bucket+cosine pipeline has a value oracle."""
    return S.range_search(load_table(spark, sf_dir, "embeddings"), tau=0.25)


def _ora_sim_range(dim: int = 64, n_planes: int = 6, tau: float = 0.25) -> str:
    planes = S.lsh_hyperplanes(dim=dim, n_planes=n_planes)

    def bucket(vec: str) -> str:
        terms = []
        for j, plane in enumerate(planes):
            arr = "[" + ", ".join(f"{x:.1f}" for x in plane) + "]"
            dot = _DOT.format(a=vec, b=arr)
            terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
        return "(" + " + ".join(terms) + ")"

    return f"""
WITH keyed0 AS (
  SELECT vec_id, embedding, {bucket('embedding')} AS bucket FROM embeddings
),
keyed AS (
  SELECT vec_id, embedding, bucket FROM (
    SELECT vec_id, embedding, bucket,
           row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
    FROM keyed0
  ) WHERE rn <= {S.RANGE_BUCKET_CAP}
),
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_ora_cosine('a.embedding', 'b.embedding')} AS cosine
  FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM cand WHERE cosine >= {tau}
"""


def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN — centroid means are vec_id-ordered deterministic
    folds (see operators/similarity.ivf_topk), so the probe ranking and the
    in-cluster cosine top-k now have a FULL value oracle (rows-only until
    round 7, when engine-specific float-avg accumulation order was the
    blocker)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return S.ivf_topk(e, queries, k=5, n_probe=3)


def _ora_ivf_cent(dim: int = 64) -> str:
    """The IVF centroid CTE pair (cent, centroids): the deterministic
    per-dimension fold (values listed in vec_id order, sequential double
    sum, divide by count) that replays operators/similarity.ivf_centroids
    bit-for-bit.  Shared by the inline IVF oracle and the staged-index
    incremental/streaming oracles."""
    return f"""cent AS (
  SELECT label AS cluster, i AS pos,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(CAST(embedding[i] AS DOUBLE) ORDER BY vec_id)),
           (acc, x) -> acc + x) / COUNT(*) AS cval
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i) dims
  GROUP BY label, i
),
centroids AS (SELECT cluster, list(cval ORDER BY pos) AS centroid FROM cent GROUP BY cluster)"""


def _ora_sim_ivf(dim: int = 64, k: int = 5, n_probe: int = 3) -> str:
    """IVF oracle: the same deterministic centroid fold (list ordered by
    vec_id, sequential double sum, divide by count), probe ranking, and
    in-probe cosine top-k — generated from the same constants as the plan."""
    return f"""
WITH {_ora_ivf_cent(dim)},
q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
qc AS (
  SELECT q.query_id, q.q_vec, c.cluster,
         {_ora_cosine('q.q_vec', 'c.centroid')} AS c_cos
  FROM q CROSS JOIN centroids c
),
probes AS (
  SELECT query_id, q_vec, cluster FROM (
    SELECT query_id, q_vec, cluster,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c_cos DESC, cluster) AS crank
    FROM qc
  ) t WHERE crank <= {n_probe}
),
scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         {_ora_cosine('p.q_vec', 'e.embedding')} AS cosine
  FROM embeddings e JOIN probes p ON e.label = p.cluster
  WHERE e.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank <= {k}
"""


def q_ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode of the embedding table: 4-bit code per
    subspace + exact quantized distortion (see operators/similarity
    .pq_codes) — the compression half of an IVF-PQ ANN index."""
    return S.pq_codes(load_table(spark, sf_dir, "embeddings"))


def q_sim_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a CHECKED metric: recall@k of the LSH and IVF
    approximate paths against the exact brute-force top-k, as exact integer
    counts (hits / retrieved / total) plus their IEEE-exact ratio — the
    driver-provable replacement for 'trust the pytest recall floor'.
    Everything is distributed: the method lists union, left-join the exact
    list on (query_id, neighbor_id), and aggregate per method; the 1-row
    total joins back via broadcast."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    bf = S.brute_force_topk(e, q, k=5).select("query_id", "neighbor_id")
    cand = (
        S.lsh_topk(e, q, k=5, n_planes=6)
        .select(F.lit("lsh").alias("method"), "query_id", "neighbor_id")
        .unionByName(
            S.ivf_topk(e, q, k=5, n_probe=3).select(
                F.lit("ivf").alias("method"), "query_id", "neighbor_id"
            )
        )
    )
    marked = bf.withColumn("hit", F.lit(1))
    total = bf.agg(F.count(F.lit(1)).alias("total"))
    return (
        cand.join(marked, ["query_id", "neighbor_id"], "left")
        .groupBy("method")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"),
            F.count(F.lit(1)).alias("retrieved"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "method",
            "hits",
            "retrieved",
            "total",
            (F.col("hits").cast("double") / F.col("total").cast("double")).alias(
                "recall"
            ),
        )
    )


def _ann_delta(emb: DataFrame) -> DataFrame:
    """The synthetic query stream for the incremental-ANN pair: vectors
    from vec_id % 7 == 3, re-keyed above 1000000 and shifted by +0.25 per
    dimension — near their source's cluster but identical to no stored
    vector, so probe ranking and in-cluster top-k are both non-trivial.
    float→double cast and +0.25 are IEEE-exact, so the oracle replays the
    transform bit-for-bit.

    The batch is BOUNDED at 500 vectors (vec_id < 3500): an ingest
    micro-batch is trigger-sized, not corpus-sized.  The first cut of
    this delta grew with the corpus, and the sf1 scale proof caught the
    resulting |delta| x |corpus| quadratic (15x / 45x at 10x data);
    with the bound the probe work scales only with the corpus side."""
    return emb.filter((F.col("vec_id") % 7 == 3) & (F.col("vec_id") < 3500)).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") + F.lit(0.25)
        ).alias("embedding"),
    )


def _ivf_grown_n_lists(sf_dir: str) -> int | None:
    """The n_lists growth rule for the staged IVF index: None (use the
    10-label quantizer) while the corpus holds <= 4000 vectors (<= 400
    per list), else isqrt(N) // 4 discovered k-means lists (~sqrt(N)/4:
    35 at N=20000) so the probe cost n_probe x N / n_lists grows as
    sqrt(N) instead of linearly — the scaling a fixed list count cannot
    provide.  Reads N from the parquet footer (no Spark job).  All
    driver-registered corpora hold 2000 vectors, so their staged index
    — and the DuckDB oracle that replays the label quantizer — is
    untouched; the rule engages on the 10x scale corpus and beyond."""
    import os

    import pyarrow.parquet as pq

    n_vecs = pq.ParquetFile(os.path.join(sf_dir, "embeddings.parquet")).metadata.num_rows
    return _ivf_rule(n_vecs)


def _ivf_rule(n_vecs: int) -> int | None:
    """The count -> n_lists half of the growth rule, shared by the base
    stager (corpus count) and the rebuild stager (MERGED count)."""
    import math

    if n_vecs <= 4000:
        return None
    return max(10, math.isqrt(n_vecs) // 4)


def staged_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per corpus fingerprint) the IVF ANN index over the raw
    embeddings table and return its path — the similarity analog of
    staged_containment_index, shared by the batch incremental query and
    the streaming foreachBatch twin.  vecs is written LAST in
    stage_ivf_index, so its _SUCCESS marker means the whole index
    (centroids included) is complete.  n_lists follows
    ``_ivf_grown_n_lists`` (label quantizer at registered scales,
    discovered sqrt(N)-scaled k-means lists beyond); the list count is
    part of the index path, so a growth-rule change restages rather
    than silently reusing a differently-shaped index."""
    n_lists = _ivf_grown_n_lists(sf_dir)
    prefix = "ann_ivf_idx" if n_lists is None else f"ann_ivf_idx_k{n_lists}"
    return _staged_index(
        spark,
        sf_dir,
        "embeddings",
        prefix,
        "vecs",
        lambda idx: S.stage_ivf_index(
            load_table(spark, sf_dir, "embeddings"), idx, n_lists=n_lists
        ),
    )


def q_sim_incremental_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding NEAR-DUP ingest gate — the vector twin of the
    admission funnel's containment arm: each incoming vector probes the
    staged IVF index for its single nearest corpus neighbor (k=1 probe,
    same ann_vs_base_batch plan as the top-k query) and is flagged when
    max cosine >= 0.99.  The synthetic batch mixes EXACT copies of every
    11th corpus vector (re-keyed above 2000000 — true near-dups, cosine
    ~1.0 when their source's cluster is probed) with the +0.25-shifted
    noise arm (never near-dups).  Approximate by design: a copy whose
    source cluster falls outside the n_probe set is missed — the same
    recall trade every IVF deployment makes, and both engines replay the
    identical probe so the result is still hash-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    near = emb.filter((F.col("vec_id") % 11 == 5) & (F.col("vec_id") < 3300)).select(
        (F.col("vec_id") + 2000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    delta = near.unionByName(_ann_delta(emb))
    idx = staged_ivf_index(spark, sf_dir)
    top1 = S.ann_vs_base_batch(spark, idx, delta, k=1)
    return top1.select(
        "query_id",
        "neighbor_id",
        "cosine",
        (F.col("cosine") >= 0.99).alias("is_dup"),
    )


def _ora_sim_incremental_range(dim: int = 64, n_probe: int = 3) -> str:
    """Staged-IVF near-dup-gate oracle: the shared centroid fold, the
    two-arm delta (exact copies + shifted noise) replayed exactly, the
    same probe ranking, and the k=1 top neighbor with the 0.99 flag."""
    return f"""
WITH {_ora_ivf_cent(dim)},
q AS (
  SELECT vec_id + 2000000 AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_vec
  FROM embeddings WHERE vec_id % 11 = 5 AND vec_id < 3300
  UNION ALL
  SELECT vec_id + 1000000 AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.25) AS q_vec
  FROM embeddings WHERE vec_id % 7 = 3 AND vec_id < 3500
),
qc AS (
  SELECT q.query_id, q.q_vec, c.cluster,
         {_ora_cosine('q.q_vec', 'c.centroid')} AS c_cos
  FROM q CROSS JOIN centroids c
),
probes AS (
  SELECT query_id, q_vec, cluster FROM (
    SELECT query_id, q_vec, cluster,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c_cos DESC, cluster) AS crank
    FROM qc
  ) t WHERE crank <= {n_probe}
),
scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         {_ora_cosine('p.q_vec', 'e.embedding')} AS cosine
  FROM embeddings e JOIN probes p ON e.label = p.cluster
  WHERE e.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine, cosine >= 0.99 AS is_dup FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank <= 1
"""


def q_sim_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN: a synthetic ingest batch of query vectors
    (shifted copies of every 7th corpus vector) probes the staged IVF
    index of the embeddings table — "what does this new vector match in
    the corpus?", the delta-vs-base shape of sim_ivf_topk.  The centroid
    table broadcasts onto the delta and the probe list broadcasts onto
    the cluster-partitioned vector scan, which dynamic partition pruning
    cuts to the probed clusters' files only; see
    operators/similarity.ann_vs_base_batch."""
    delta = _ann_delta(load_table(spark, sf_dir, "embeddings"))
    idx = staged_ivf_index(spark, sf_dir)
    return S.ann_vs_base_batch(spark, idx, delta)


def _ora_sim_incremental(dim: int = 64, k: int = 5, n_probe: int = 3) -> str:
    """Staged-IVF incremental oracle: the shared centroid fold over the
    BASE table, the delta transform replayed exactly (+0.25 per dimension,
    ids re-keyed above 1000000), then the same probe ranking and in-probe
    cosine top-k as the inline IVF oracle."""
    return f"""
WITH {_ora_ivf_cent(dim)},
q AS (
  SELECT vec_id + 1000000 AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.25) AS q_vec
  FROM embeddings WHERE vec_id % 7 = 3 AND vec_id < 3500
),
qc AS (
  SELECT q.query_id, q.q_vec, c.cluster,
         {_ora_cosine('q.q_vec', 'c.centroid')} AS c_cos
  FROM q CROSS JOIN centroids c
),
probes AS (
  SELECT query_id, q_vec, cluster FROM (
    SELECT query_id, q_vec, cluster,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c_cos DESC, cluster) AS crank
    FROM qc
  ) t WHERE crank <= {n_probe}
),
scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         {_ora_cosine('p.q_vec', 'e.embedding')} AS cosine
  FROM embeddings e JOIN probes p ON e.label = p.cluster
  WHERE e.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank <= {k}
"""


def _ann_merge_delta(emb: DataFrame) -> DataFrame:
    """The day-1 vector ingest batch for the IVF MERGE story — the range
    gate's two arms verbatim: exact copies of every 11th corpus vector
    (re-keyed +2000000 — rejected as dups, never merged) plus the
    +0.25-shifted noise arm (_ann_delta, re-keyed +1000000 — admitted).
    Replayed verbatim in SQL by the merge/day-2 oracles."""
    near = emb.filter(
        (F.col("vec_id") % 11 == 5) & (F.col("vec_id") < 3300)
    ).select(
        (F.col("vec_id") + 2000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    return near.unionByName(_ann_delta(emb))


def q_sim_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE-shaped maintenance job for the VECTOR index — the
    similarity analog of ingest_index_merge, completing the ingest story
    across both modalities: the day-1 vector batch flows through the
    near-dup gate (staged-IVF k=1 probe, cosine >= 0.99 rejects), and
    the ADMITTED vectors are assigned to their nearest centroid and
    appended to the cluster-partitioned vector table
    (operators/similarity.merge_admitted_into_ivf) — so tomorrow's
    batches retrieve and deduplicate against today's admissions.
    Centroids refresh by periodic rebuild/re-train (the n_lists growth
    rule), not append — the rebuild-not-append split the containment
    index's df statistics use.  Emits (cluster, rows_before,
    rows_appended, rows_after) with read-back counts."""
    import os
    import shutil
    import tempfile

    delta = _ann_merge_delta(load_table(spark, sf_dir, "embeddings"))
    idx = staged_ivf_index(spark, sf_dir)
    top1 = S.ann_vs_base_batch(spark, idx, delta, k=1)
    admitted = top1.filter(F.col("cosine") < 0.99).select(
        F.col("query_id").alias("vec_id")
    )
    ext = tempfile.mkdtemp(
        prefix="ivf_idx_ext_",
        dir=os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir()),
    )
    try:
        # checkpoint before reclaiming: the report reads the written files
        return S.merge_admitted_into_ivf(
            spark, idx, delta, admitted, ext
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ext, ignore_errors=True)


def staged_merged_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per corpus fingerprint) the MERGED day-2 vector index:
    the day-1 staged IVF index PLUS the admitted day-1 vectors assigned
    into its cells — the base ∪ extension surface sim_topk_day2 probes.
    The extension rows come from the SAME merge_admitted_into_ivf code
    path the registered merge query runs; centroids are copied verbatim
    (rebuild-not-append), and the vector table is written as ONE
    base-∪-extension cluster-partitioned table, LAST, so its _SUCCESS
    marker doubles as the completeness flag.  The union write upcasts
    the base float vectors to double (the delta side is double); the
    cosine math casts to double either way, so values are unchanged."""
    import os
    import shutil
    import tempfile

    def build(idx: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        delta1 = _ann_merge_delta(emb)
        bidx = staged_ivf_index(spark, sf_dir)
        top1 = S.ann_vs_base_batch(spark, bidx, delta1, k=1)
        admitted = top1.filter(F.col("cosine") < 0.99).select(
            F.col("query_id").alias("vec_id")
        )
        ext = tempfile.mkdtemp(
            prefix="merged_ivf_ext_",
            dir=os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir()),
        )
        try:
            S.merge_admitted_into_ivf(spark, bidx, delta1, admitted, ext)
            spark.read.parquet(f"{bidx}/centroids").write.mode(
                "overwrite"
            ).parquet(f"{idx}/centroids")
            spark.read.parquet(f"{bidx}/vecs").unionByName(
                spark.read.parquet(f"{ext}/vecs")
            ).write.mode("overwrite").partitionBy("cluster").parquet(
                f"{idx}/vecs"
            )
        finally:
            shutil.rmtree(ext, ignore_errors=True)

    # key the n_lists growth rule into the path exactly like
    # staged_ivf_index (a rule change must restage the MERGED index too),
    # AND the day-1 delta/gate logic (ADVICE r18: without it a change to
    # _ann_merge_delta or the admission threshold would silently serve a
    # merged index built under the old rules from scratch)
    token = _logic_fp(_ann_merge_delta, S.ann_vs_base_batch, S.merge_admitted_into_ivf, build)
    n_lists = _ivf_grown_n_lists(sf_dir)
    prefix = (
        f"merged_ivf_idx_{token}"
        if n_lists is None
        else f"merged_ivf_idx_{token}_k{n_lists}"
    )
    return _staged_index(spark, sf_dir, "embeddings", prefix, "vecs", build)


def _ann_delta2(emb: DataFrame) -> DataFrame:
    """The DAY-2 vector batch, defined with no reference to the day-1
    outcome: the day-1 noise arm's vectors VERBATIM (same +0.25
    transform, re-keyed +3000000) — twins of day-1 ADMITTED vectors are
    caught at cosine ~1.0 ONLY through the merged index's appended rows
    — plus a +0.5-shifted control arm (every 13th vector, re-keyed
    +4000000) that is a dup on neither day.  Replayed verbatim in SQL."""
    rep = emb.filter((F.col("vec_id") % 7 == 3) & (F.col("vec_id") < 3500)).select(
        (F.col("vec_id") + 3000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") + 0.25).alias(
            "embedding"
        ),
    )
    ctl = emb.filter((F.col("vec_id") % 13 == 4) & (F.col("vec_id") < 3900)).select(
        (F.col("vec_id") + 4000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") + 0.5).alias(
            "embedding"
        ),
    )
    return rep.unionByName(ctl)


def q_sim_topk_day2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAY 2 of the vector ingest story — the semantics the IVF merge
    exists to provide: the second day's batch probes the MERGED (base ∪
    day-1 extension) vector index, so exact copies of vectors ADMITTED
    yesterday are flagged as dups (cosine ~1.0 against the appended row)
    even though they match nothing in the base corpus, while the
    +0.5-shifted control arm stays admitted.  Centroids are the base
    quantizer (rebuild-not-append).  The oracle replays BOTH days: the
    day-1 gate + assignment CTEs define the merged vector table, and the
    day-2 probe runs over it.  The flip is pinned by
    test_similarity.test_ivf_day2_flips_without_merge."""
    delta2 = _ann_delta2(load_table(spark, sf_dir, "embeddings"))
    midx = staged_merged_ivf_index(spark, sf_dir)
    top1 = S.ann_vs_base_batch(spark, midx, delta2, k=1)
    return top1.select(
        "query_id",
        "neighbor_id",
        "cosine",
        (F.col("cosine") >= 0.99).alias("is_dup"),
    )


def _ora_ivf_day1_admitted(dim: int = 64, n_probe: int = 3) -> str:
    """The day-1 vector gate + assignment CTE chain (q -> probes ->
    top1 -> admitted -> assign), shared by the merge report oracle and
    the day-2 probe oracle."""
    return f"""{_ora_ivf_cent(dim)},
q AS MATERIALIZED (
  SELECT vec_id + 2000000 AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_vec
  FROM embeddings WHERE vec_id % 11 = 5 AND vec_id < 3300
  UNION ALL
  SELECT vec_id + 1000000 AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.25) AS q_vec
  FROM embeddings WHERE vec_id % 7 = 3 AND vec_id < 3500
),
qc AS (
  SELECT q.query_id, q.q_vec, c.cluster,
         {_ora_cosine('q.q_vec', 'c.centroid')} AS c_cos
  FROM q CROSS JOIN centroids c
),
probes AS (
  SELECT query_id, q_vec, cluster FROM (
    SELECT query_id, q_vec, cluster,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c_cos DESC, cluster) AS crank
    FROM qc
  ) t WHERE crank <= {n_probe}
),
scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         {_ora_cosine('p.q_vec', 'e.embedding')} AS cosine
  FROM embeddings e JOIN probes p ON e.label = p.cluster
  WHERE e.vec_id <> p.query_id
),
top1 AS (
  SELECT query_id, neighbor_id, cosine FROM (
    SELECT query_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
  ) t WHERE rank <= 1
),
admitted AS MATERIALIZED (
  SELECT q.query_id, q.q_vec FROM q
  WHERE q.query_id NOT IN (SELECT query_id FROM top1 WHERE cosine >= 0.99)
),
assign AS MATERIALIZED (
  SELECT query_id, q_vec, cluster FROM (
    SELECT a.query_id, a.q_vec, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY a.query_id
                              ORDER BY {_ora_cosine('a.q_vec', 'c.centroid')} DESC, c.cluster) AS r
    FROM admitted a CROSS JOIN centroids c
  ) t WHERE r = 1
)"""


ORA_SIM_INDEX_MERGE = f"""
WITH {_ora_ivf_day1_admitted()},
before AS (SELECT label AS cluster, COUNT(*) AS rows_before FROM embeddings GROUP BY 1),
app AS (SELECT cluster, COUNT(*) AS rows_appended FROM assign GROUP BY 1)
SELECT CAST(b.cluster AS BIGINT) AS cluster,
       CAST(rows_before AS BIGINT) AS rows_before,
       CAST(COALESCE(rows_appended, 0) AS BIGINT) AS rows_appended,
       CAST(rows_before + COALESCE(rows_appended, 0) AS BIGINT) AS rows_after
FROM before b LEFT JOIN app USING (cluster)
"""


# the MERGED vector table (base upcast to double ∪ admitted assigned rows),
# shared by the day-2 probe oracle and the centroid-drift oracle
_ORA_MVECS = """mvecs AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding,
         label AS cluster
  FROM embeddings
  UNION ALL
  SELECT query_id AS vec_id, q_vec AS embedding, cluster FROM assign
)"""


# the DAY-2 probe set (replay arm + control arm), shared by the day-2
# probe oracle and the rebuild acceptance-gate oracle
_ORA_Q2 = """q2 AS (
  SELECT vec_id + 3000000 AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.25) AS q_vec
  FROM embeddings WHERE vec_id % 7 = 3 AND vec_id < 3500
  UNION ALL
  SELECT vec_id + 4000000 AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.5) AS q_vec
  FROM embeddings WHERE vec_id % 13 = 4 AND vec_id < 3900
)"""


ORA_SIM_TOPK_DAY2 = f"""
WITH {_ora_ivf_day1_admitted()},
{_ORA_MVECS},
{_ORA_Q2},
qc2 AS (
  SELECT q.query_id, q.q_vec, c.cluster,
         {_ora_cosine('q.q_vec', 'c.centroid')} AS c_cos
  FROM q2 q CROSS JOIN centroids c
),
probes2 AS (
  SELECT query_id, q_vec, cluster FROM (
    SELECT query_id, q_vec, cluster,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c_cos DESC, cluster) AS crank
    FROM qc2
  ) t WHERE crank <= 3
),
scored2 AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         {_ora_cosine('p.q_vec', 'e.embedding')} AS cosine
  FROM mvecs e JOIN probes2 p ON e.cluster = p.cluster
  WHERE e.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine, cosine >= 0.99 AS is_dup FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored2
) t WHERE rank <= 1
"""


def q_sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monitor that SCHEDULES the IVF rebuild — the vector analog of
    quality_fit_drift: after the day-1 merge, recompute each cluster's
    centroid over the MERGED vector table (the rebuild candidate) and
    compare against the staged base quantizer, reporting per cluster
    (n_base, n_added, centroid_cos, drifted).  The merge deliberately
    leaves centroids fixed (rebuild-not-append); this query quantifies
    exactly how far the fixed quantizer has drifted from the corpus it
    now serves — the signal a deployment thresholds to trigger
    stage_ivf_index's periodic re-train instead of rebuilding on a
    blind cadence.  Untouched clusters recompute to the same fold
    (cosine ~1.0); clusters that absorbed admissions drift.  Both
    centroid folds are the deterministic vec_id-ordered double folds,
    so the cosine — and the thresholded boolean — are hash-exact."""
    bidx = staged_ivf_index(spark, sf_dir)
    midx = staged_merged_ivf_index(spark, sf_dir)
    base_cent = spark.read.parquet(f"{bidx}/centroids").select(
        "cluster", F.col("centroid").alias("old_c")
    )
    mv = spark.read.parquet(f"{midx}/vecs")
    new_cent = S.ivf_centroids(mv, "cluster").select(
        "cluster", F.col("centroid").alias("new_c")
    )
    counts = mv.groupBy("cluster").agg(
        F.sum(F.when(F.col("vec_id") < 1000000, 1).otherwise(0)).alias("n_base"),
        F.sum(F.when(F.col("vec_id") >= 1000000, 1).otherwise(0)).alias("n_added"),
    )
    cos = S.cosine("old_c", "new_c")
    return (
        base_cent.join(new_cent, "cluster")
        .join(counts, "cluster")
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            F.col("n_base").cast("long").alias("n_base"),
            F.col("n_added").cast("long").alias("n_added"),
            cos.alias("centroid_cos"),
            (cos < 0.9999).alias("drifted"),
        )
    )


# the per-cluster MERGED-table centroid fold (the rebuild candidate /
# re-trained quantizer at the label tier) — shared by the drift monitor
# and the rebuild reconvergence oracles
_ORA_NEWCENT = """newcent_d AS (
  SELECT cluster, i AS pos,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(CAST(embedding[i] AS DOUBLE) ORDER BY vec_id)),
           (acc, x) -> acc + x) / COUNT(*) AS cval
  FROM mvecs CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
  GROUP BY cluster, i
),
newcent AS (SELECT cluster, list(cval ORDER BY pos) AS new_c FROM newcent_d GROUP BY cluster)"""


ORA_SIM_CENTROID_DRIFT = f"""
WITH {_ora_ivf_day1_admitted()},
{_ORA_MVECS},
{_ORA_NEWCENT},
counts AS (
  SELECT cluster,
         SUM(CASE WHEN vec_id < 1000000 THEN 1 ELSE 0 END) AS n_base,
         SUM(CASE WHEN vec_id >= 1000000 THEN 1 ELSE 0 END) AS n_added
  FROM mvecs GROUP BY cluster
)
SELECT CAST(c.cluster AS BIGINT) AS cluster,
       CAST(n_base AS BIGINT) AS n_base,
       CAST(n_added AS BIGINT) AS n_added,
       {_ora_cosine('o.centroid', 'n.new_c')} AS centroid_cos,
       {_ora_cosine('o.centroid', 'n.new_c')} < 0.9999 AS drifted
FROM centroids o JOIN newcent n USING (cluster) JOIN counts c USING (cluster)
"""


# Fixed Lloyd budget for the label-tier IVF rebuild: the measured
# fixpoint on the registered corpora is 20 (sf0.001) / 16 (sf0.01)
# rounds; 24 adds margin.  Once the assignment stops moving, further
# rounds are idempotent, so a fixed budget PAST the fixpoint makes the
# rebuild exactly converged — and exactly replayable by an oracle that
# unrolls the rounds CTE-for-CTE (the kmeans_embeddings pattern).  A
# regenerated corpus that needs more rounds surfaces as reconverged=
# FALSE (hash still green — the oracle replays the same budget) and
# fails the drift-clears pytest loudly.
IVF_REBUILD_ITERS = 24


def staged_rebuilt_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per corpus fingerprint) the RE-TRAINED quantizer — the
    rebuild that ``sim_centroid_drift`` schedules, actually executed over
    the MERGED base ∪ extension vector table, with the n_lists growth
    rule applied to the MERGED count.

    Label tier (all registered corpora): Lloyd re-train seeded from the
    CURRENT cells — ``IVF_REBUILD_ITERS`` exact rounds of (centroid fold
    over the cells, rank-1 re-assignment under the refreshed quantizer),
    a budget past the measured fixpoint.  At the fixpoint the stored
    quantizer equals its own cells' folds EXACTLY (the drift monitor
    reads ~1.0) and every stored vector sits in its rank-1 cell under the
    stored quantizer (twin recall survives BY CONSTRUCTION — the property
    the r19 first-cut centroid-refresh-without-re-add violated).  Growth
    tier (sf1+): the discovered k-means re-train via ``stage_ivf_index``,
    which re-assigns by definition.

    Re-training is corpus-sized BY NATURE (a quantizer is a corpus-wide
    fit): per round, one map-side-combinable fold plus one broadcast
    rank-1 pass — run on the drift-thresholded maintenance cadence and
    staged/amortized here like every maintained index, never per batch."""
    midx = staged_merged_ivf_index(spark, sf_dir)
    n_merged = spark.read.parquet(f"{midx}/vecs").count()
    n_lists = _ivf_rule(n_merged)

    def build(idx: str) -> None:
        mv = spark.read.parquet(f"{midx}/vecs")
        if n_lists is not None:
            S.stage_ivf_index(mv, idx, cluster_col="cluster", n_lists=n_lists)
            return
        # label tier: Lloyd to the fixpoint.  Each round's k-row centroid
        # frame and corpus-wide assignment are eagerly checkpointed so the
        # plan does not deepen with the round count (the kmeans shape).
        cur = mv.select("vec_id", "embedding", "cluster").localCheckpoint(eager=True)
        cent = None
        for _ in range(IVF_REBUILD_ITERS):
            cent = S.ivf_centroids(cur, "cluster").localCheckpoint(eager=True)
            cur = S.assign_to_nearest_centroid(
                cur.select("vec_id", "embedding"), cent
            ).localCheckpoint(eager=True)
        cent.write.mode("overwrite").parquet(f"{idx}/centroids")
        cur.write.mode("overwrite").partitionBy("cluster").parquet(f"{idx}/vecs")

    # key the whole upstream chain's logic into the path: a change to the
    # day-1 delta/gate/merge logic restages the merged index at a NEW
    # path, and this token moves with it so the rebuild can never serve
    # a quantizer trained over the previous merge rules
    token = _logic_fp(
        build, _ann_merge_delta, S.ann_vs_base_batch, S.merge_admitted_into_ivf,
        S.stage_ivf_index, S.assign_to_nearest_centroid,
    )
    prefix = (
        f"rebuilt_ivf_idx_{token}"
        if n_lists is None
        else f"rebuilt_ivf_idx_{token}_k{n_lists}"
    )
    return _staged_index(spark, sf_dir, "embeddings", prefix, "vecs", build)


def q_sim_index_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF maintenance loop CLOSED: execute the re-train that
    ``sim_centroid_drift`` schedules and prove reconvergence.  Per
    cluster: ``monitor_cos`` replays the drift monitor's own reading (the
    day-1 quantizer vs the merged table's centroid fold — was_drifted
    matches ``sim_centroid_drift`` exactly), and ``rebuilt_centroid_cos``
    compares the RE-TRAINED quantizer read back from disk against the
    rebuilt cells' independently recomputed folds — ~1.0 for every
    cluster at the Lloyd fixpoint, so hash-equality proves the executed
    rebuild landed a quantizer that exactly matches the corpus it serves.
    ``n_before``/``n_after`` expose how far the re-train moved the
    membership.  Recall preservation (every day-1 admitted copy still
    flags through the rebuilt index; the control arm still never flags)
    is pinned by
    tests/test_similarity.py::test_rebuild_clears_drift_and_keeps_recall.

    100 TB posture: the report is k-row quantizer joins plus two
    map-side-combinable folds; the re-train itself is staged on the
    drift-thresholded maintenance cadence — never per batch."""
    bidx = staged_ivf_index(spark, sf_dir)
    midx = staged_merged_ivf_index(spark, sf_dir)
    ridx = staged_rebuilt_ivf_index(spark, sf_dir)
    old_c = spark.read.parquet(f"{bidx}/centroids").select(
        "cluster", F.col("centroid").alias("old_c")
    )
    new_c = spark.read.parquet(f"{ridx}/centroids").select(
        "cluster", F.col("centroid").alias("new_c")
    )
    mv = spark.read.parquet(f"{midx}/vecs")
    rv = spark.read.parquet(f"{ridx}/vecs")
    mcent = S.ivf_centroids(mv, "cluster").select(
        "cluster", F.col("centroid").alias("m_c")
    )
    rcent = S.ivf_centroids(rv, "cluster").select(
        "cluster", F.col("centroid").alias("r_c")
    )
    nb = mv.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_before"))
    na = rv.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_after"))
    monitor_cos = S.cosine("old_c", "m_c")
    reb_cos = S.cosine("new_c", "r_c")
    return (
        old_c.join(new_c, "cluster")
        .join(mcent, "cluster")
        .join(rcent, "cluster")
        .join(nb, "cluster")
        .join(na, "cluster")
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            F.col("n_before").cast("long").alias("n_before"),
            F.col("n_after").cast("long").alias("n_after"),
            monitor_cos.alias("monitor_cos"),
            (monitor_cos < 0.9999).alias("was_drifted"),
            reb_cos.alias("rebuilt_centroid_cos"),
            (reb_cos >= 0.9999).alias("reconverged"),
        )
    )


def _ora_lloyd_chain(n_iters: int) -> tuple[str, str]:
    """The unrolled Lloyd rounds for the rebuild oracle — the
    kmeans_embeddings oracle pattern: one (fold, rank-1 re-assign) CTE
    pair per round, every level MATERIALIZED (each is referenced twice by
    the next level, and DuckDB re-inlines non-materialized CTEs — the r18
    day-2 trap, which would go EXPONENTIAL on a 24-deep chain).  Returns
    (sql, final_assignment_name); round k's centroid CTE is cent{{k}} and
    the final stored quantizer is cent{{n_iters}}."""
    parts = []
    prev = "mvecs"
    for k in range(1, n_iters + 1):
        parts.append(f"""cent{k} AS MATERIALIZED (
  SELECT cluster, list(cval ORDER BY pos) AS c FROM (
    SELECT cluster, i AS pos,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(CAST(embedding[i] AS DOUBLE) ORDER BY vec_id)),
             (acc, x) -> acc + x) / COUNT(*) AS cval
    FROM {prev} CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
    GROUP BY cluster, i) d
  GROUP BY cluster
),
a{k} AS MATERIALIZED (
  SELECT vec_id, embedding, cluster FROM (
    SELECT m.vec_id, m.embedding, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY m.vec_id
             ORDER BY {_ora_cosine('m.embedding', 'c.c')} DESC, c.cluster) AS r
    FROM {prev} m CROSS JOIN cent{k} c
  ) t WHERE r = 1
)""")
        prev = f"a{k}"
    return ",\n".join(parts), prev


_ORA_LLOYD, _ORA_LLOYD_FINAL = _ora_lloyd_chain(IVF_REBUILD_ITERS)

ORA_SIM_INDEX_REBUILD = f"""
WITH {_ora_ivf_day1_admitted()},
{_ORA_MVECS},
{_ORA_LLOYD},
rfold AS (
  SELECT cluster, list(cval ORDER BY pos) AS r_c FROM (
    SELECT cluster, i AS pos,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(CAST(embedding[i] AS DOUBLE) ORDER BY vec_id)),
             (acc, x) -> acc + x) / COUNT(*) AS cval
    FROM {_ORA_LLOYD_FINAL} CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
    GROUP BY cluster, i) d
  GROUP BY cluster
),
nb AS (SELECT cluster, COUNT(*) AS n_before FROM mvecs GROUP BY cluster),
na AS (SELECT cluster, COUNT(*) AS n_after FROM {_ORA_LLOYD_FINAL} GROUP BY cluster)
SELECT CAST(o.cluster AS BIGINT) AS cluster,
       CAST(n_before AS BIGINT) AS n_before,
       CAST(n_after AS BIGINT) AS n_after,
       {_ora_cosine('o.centroid', 'm.c')} AS monitor_cos,
       {_ora_cosine('o.centroid', 'm.c')} < 0.9999 AS was_drifted,
       {_ora_cosine('q.c', 'r.r_c')} AS rebuilt_centroid_cos,
       {_ora_cosine('q.c', 'r.r_c')} >= 0.9999 AS reconverged
FROM centroids o
JOIN cent1 m USING (cluster)
JOIN cent{IVF_REBUILD_ITERS} q USING (cluster)
JOIN rfold r USING (cluster)
JOIN nb USING (cluster)
JOIN na USING (cluster)
"""


def q_sim_rebuild_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rebuild ACCEPTANCE GATE — the last piece of the IVF
    maintenance loop (monitor -> re-train -> ACCEPT -> swap): before a
    deployment atomically swaps the re-trained index in for the serving
    one, it measures the rebuilt probe's dup-recall against the EXACT
    brute-force answer over the same merged corpus, on the documented
    day-2 batch.  Per arm: replay (verbatim copies of day-1 admitted
    vectors — every one is a true dup) and control (never-dups).  The
    ANN side probes the rebuilt index (k=1, n_probe=3); the brute-force
    side is the declared oracle tier over the merged table.  An ANN flag
    implies a brute-force flag (its top-1 cosine is a lower bound), so
    recall = ann_dups / bf_dups and ``missed`` counts true dups the
    probe lost.  At the Lloyd fixpoint the replay arm reads recall 1.0
    (every stored twin sits in the probe's first-ranked cell) and the
    control arm flags nothing — the swap is safe; any miss holds it.

    100 TB posture: the gate runs on the rebuild cadence over a BOUNDED
    acceptance batch (trigger-sized, like every delta here), so the
    brute-force side is |batch| x corpus — the same declared-oracle-tier
    cost class as sim_recall_report, paid only when a rebuild lands."""
    midx = staged_merged_ivf_index(spark, sf_dir)
    ridx = staged_rebuilt_ivf_index(spark, sf_dir)
    delta2 = _ann_delta2(load_table(spark, sf_dir, "embeddings"))
    mv = spark.read.parquet(f"{midx}/vecs")
    ann = S.ann_vs_base_batch(spark, ridx, delta2, k=1).select(
        "query_id", (F.col("cosine") >= 0.99).alias("ann_dup")
    )
    bf = S.brute_force_topk(mv, delta2, k=1).select(
        "query_id", (F.col("cosine") >= 0.99).alias("bf_dup")
    )
    arm = F.when(F.col("query_id") < 4000000, F.lit("replay")).otherwise(
        F.lit("control")
    )
    agg = (
        ann.join(bf, "query_id")
        .select(arm.alias("arm"), "ann_dup", "bf_dup")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(F.col("bf_dup").cast("long")).alias("bf_dups"),
            F.sum(F.col("ann_dup").cast("long")).alias("ann_dups"),
            F.sum((F.col("bf_dup") & ~F.col("ann_dup")).cast("long")).alias(
                "missed"
            ),
        )
    )
    recall = F.when(F.col("bf_dups") == 0, F.lit(1.0)).otherwise(
        F.col("ann_dups").cast("double") / F.col("bf_dups").cast("double")
    )
    return agg.select(
        "arm",
        F.col("n_queries").cast("long").alias("n_queries"),
        F.col("bf_dups").cast("long").alias("bf_dups"),
        F.col("ann_dups").cast("long").alias("ann_dups"),
        F.col("missed").cast("long").alias("missed"),
        recall.alias("recall"),
    )


ORA_SIM_REBUILD_RECALL = f"""
WITH {_ora_ivf_day1_admitted()},
{_ORA_MVECS},
{_ORA_LLOYD},
{_ORA_Q2},
qc2 AS (
  SELECT q.query_id, q.q_vec, c.cluster,
         {_ora_cosine('q.q_vec', 'c.c')} AS c_cos
  FROM q2 q CROSS JOIN cent{IVF_REBUILD_ITERS} c
),
probes2 AS (
  SELECT query_id, q_vec, cluster FROM (
    SELECT query_id, q_vec, cluster,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c_cos DESC, cluster) AS crank
    FROM qc2
  ) t WHERE crank <= 3
),
ann AS (
  SELECT query_id, cosine >= 0.99 AS ann_dup FROM (
    SELECT p.query_id, {_ora_cosine('p.q_vec', 'e.embedding')} AS cosine,
           ROW_NUMBER() OVER (PARTITION BY p.query_id
             ORDER BY {_ora_cosine('p.q_vec', 'e.embedding')} DESC, e.vec_id) AS rank
    FROM {_ORA_LLOYD_FINAL} e JOIN probes2 p ON e.cluster = p.cluster
    WHERE e.vec_id <> p.query_id
  ) t WHERE rank <= 1
),
bf AS (
  SELECT query_id, cosine >= 0.99 AS bf_dup FROM (
    SELECT q.query_id, {_ora_cosine('q.q_vec', 'e.embedding')} AS cosine,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY {_ora_cosine('q.q_vec', 'e.embedding')} DESC, e.vec_id) AS rank
    FROM mvecs e CROSS JOIN q2 q
    WHERE e.vec_id <> q.query_id
  ) t WHERE rank <= 1
)
SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN bf_dup THEN 1 ELSE 0 END) AS BIGINT) AS bf_dups,
       CAST(SUM(CASE WHEN ann_dup THEN 1 ELSE 0 END) AS BIGINT) AS ann_dups,
       CAST(SUM(CASE WHEN bf_dup AND NOT ann_dup THEN 1 ELSE 0 END) AS BIGINT) AS missed,
       CASE WHEN SUM(CASE WHEN bf_dup THEN 1 ELSE 0 END) = 0 THEN 1.0
            ELSE CAST(SUM(CASE WHEN ann_dup THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN bf_dup THEN 1 ELSE 0 END) AS DOUBLE)
       END AS recall
FROM (
  SELECT CASE WHEN a.query_id < 4000000 THEN 'replay' ELSE 'control' END AS arm,
         a.ann_dup, b.bf_dup
  FROM ann a JOIN bf b USING (query_id)
) t
GROUP BY arm
"""


def _ora_sim_recall() -> str:
    return f"""
WITH bf AS (SELECT query_id, neighbor_id FROM ({ORA_SIM_BRUTEFORCE}) b),
cand AS (
  SELECT 'lsh' AS method, query_id, neighbor_id FROM ({_ora_sim_lsh()}) l
  UNION ALL
  SELECT 'ivf' AS method, query_id, neighbor_id FROM ({_ora_sim_ivf()}) v
)
SELECT c.method,
       CAST(SUM(CASE WHEN b.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       COUNT(*) AS retrieved,
       t.total,
       CAST(SUM(CASE WHEN b.query_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(t.total AS DOUBLE) AS recall
FROM cand c
LEFT JOIN bf b ON c.query_id = b.query_id AND c.neighbor_id = b.neighbor_id
CROSS JOIN (SELECT COUNT(*) AS total FROM bf) t
GROUP BY c.method, t.total
"""


# --- text analysis ------------------------------------------------------------


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.quality_stats(load_table(spark, sf_dir, "documents"))


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per doc by tf-idf with a rational idf
    (exact-integer arithmetic — no ln(), so no cross-libm ulp drift)."""
    return T.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=5)


ORA_TFIDF_TOP_TERMS = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
toks2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks2 GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf * (2 * n.n_docs - 2 * df.df + 1) AS DOUBLE)
           / CAST(2 * df.df + 1 AS DOUBLE) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, score, rank FROM (
  SELECT doc_id, term, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INT) AS rank
  FROM scored
) t WHERE rank <= 5
"""


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible epoch-1 training shuffle: md5-ordered (shard, position)
    per doc — identical order on any worker/restart/engine."""
    return TR.epoch_shuffle(load_table(spark, sf_dir, "documents"))


ORA_EPOCH_SHUFFLE = f"""
WITH keyed AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
), sharded AS (
  SELECT doc_id, n_chars, k,
         CAST(('0x' || substring(k, 1, 8)) AS BIGINT) % {TR.EPOCH_SHARDS} AS shard
  FROM keyed
)
SELECT doc_id, n_chars, CAST(shard AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS INT)
         AS position
FROM sharded
"""


def q_regex_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-style regex pre-tokenizer accounting: per-doc pre-token count
    with the alpha/digit/punct class split (operators/text.py)."""
    return T.regex_pretokenize(load_table(spark, sf_dir, "documents"))


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source majority-prefix boilerplate detection + strip accounting
    (integer prefix keys, majority vote, broadcast join back)."""
    return T.boilerplate_strip(load_table(spark, sf_dir, "documents"))


def _ora_boilerplate_strip() -> str:
    from ..operators.dedup import SHINGLE_B, SHINGLE_P
    from ..operators.text import BOILER_MIN_SUPPORT as MINSUP
    from ..operators.text import BOILER_PREFIX_CHARS as NPREF

    pk = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split(substring(text, 1, {NPREF}), ''), "
        "c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, c) -> (acc * {SHINGLE_B} + c) % {SHINGLE_P})"
    )
    return f"""
WITH keyed AS (
  SELECT doc_id, source, length(text) AS n_chars, {pk} AS pk FROM documents
), votes AS (
  SELECT source, pk, COUNT(*) AS n FROM keyed GROUP BY source, pk
), majority AS (
  SELECT source, pk AS boiler_pk FROM (
    SELECT source, pk, n, row_number() OVER (PARTITION BY source ORDER BY n DESC, pk) AS rn
    FROM votes
  ) WHERE rn = 1 AND n >= {MINSUP}
)
SELECT k.doc_id, k.source, CAST(k.n_chars AS BIGINT) AS n_chars,
       COALESCE(k.pk = m.boiler_pk, FALSE) AS has_boilerplate,
       CAST(CASE WHEN k.pk = m.boiler_pk
                 THEN greatest(k.n_chars - {NPREF}, 0)
                 ELSE k.n_chars END AS BIGINT) AS clean_chars
FROM keyed k LEFT JOIN majority m USING (source)
"""


ORA_BOILERPLATE_STRIP = _ora_boilerplate_strip()


def q_retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: two integer-exact lexical rankers fused with
    scaled-integer Reciprocal-Rank Fusion (top-100 pools, top-20 out)."""
    return T.retrieval_rrf_fusion(load_table(spark, sf_dir, "documents"))


ORA_RETRIEVAL_RRF = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), toks2 AS (
  SELECT doc_id, term FROM toks WHERE term <> ''
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks2 GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks2 GROUP BY doc_id
), dfq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM dl
), q AS (
  SELECT DISTINCT term FROM toks2 WHERE doc_id = 17
), matched AS (
  SELECT tf.doc_id, tf.tf, dfq.df, dl.dl, n.n_docs
  FROM tf JOIN q USING (term) JOIN dfq USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN n
  WHERE tf.doc_id <> 17
), sa AS (
  SELECT doc_id,
         SUM(tf * (2 * n_docs - 2 * df + 1) * 1000 // (2 * df + 1)) AS score
  FROM matched GROUP BY doc_id
), sb AS (
  SELECT doc_id, SUM(tf * {T.RRF_SCALE} // dl) AS score
  FROM matched GROUP BY doc_id
), pa AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a
  FROM (SELECT * FROM sa ORDER BY score DESC, doc_id LIMIT {T.RRF_POOL})
), pb AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_b
  FROM (SELECT * FROM sb ORDER BY score DESC, doc_id LIMIT {T.RRF_POOL})
), fused AS (
  SELECT COALESCE(pa.doc_id, pb.doc_id) AS doc_id, pa.rank_a, pb.rank_b,
         CAST(COALESCE({T.RRF_SCALE} // ({T.RRF_K} + pa.rank_a), 0)
              + COALESCE({T.RRF_SCALE} // ({T.RRF_K} + pb.rank_b), 0) AS BIGINT)
           AS rrf_milli
  FROM pa FULL OUTER JOIN pb ON pa.doc_id = pb.doc_id
)
SELECT doc_id,
       CAST(COALESCE(rank_a, 0) AS INT) AS rank_a,
       CAST(COALESCE(rank_b, 0) AS INT) AS rank_b,
       rrf_milli,
       CAST(row_number() OVER (ORDER BY rrf_milli DESC, doc_id) AS INT) AS fused_rank
FROM (SELECT * FROM fused ORDER BY rrf_milli DESC, doc_id LIMIT 20)
"""


_STOP_LIST = "[" + ", ".join(f"'{s}'" for s in T.STOPWORDS) + "]"


def q_quality_logit_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight linear quality classifier — integer milli-unit
    features, hash-exact logit, sign-threshold keep flag."""
    return T.quality_logit_score(load_table(spark, sf_dir, "documents"))


def q_quality_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train IN the engine: per-language closed-form ridge fit of the
    chars~tokens model from one-scan integer sufficient statistics +
    exact Cramer solve (operators/training.quality_linear_fit) — the
    calibration statistic quality/drift monitors compare crawls against."""
    return TR.quality_linear_fit(load_table(spark, sf_dir, "documents"))


def _drift_delta(docs: DataFrame) -> DataFrame:
    """The synthetic fresh batch for the fit-drift monitor: every doc
    re-keyed above 6000000, and 'en' docs damaged by inserting a 4-char
    token between every pair of words (replace ' ' -> ' zzzz ') — the
    markup-leak shape that moves the chars~tokens slope toward
    (slope+5)/2 for that language only.  A third arm relabels every
    97th doc as the NOVEL language 'xx' (re-keyed above 8000000) — a
    language the base fit has never seen, exercising the monitor's
    fresh-only path (left join -> drifted forced true).  Replayed
    verbatim in SQL."""
    damaged = F.when(
        F.col("lang") == "en",
        F.replace(F.col("text"), F.lit(" "), F.lit(" zzzz ")),
    ).otherwise(F.col("text"))
    rekeyed = docs.select(
        (F.col("doc_id") + 6000000).alias("doc_id"),
        F.col("lang"),
        damaged.alias("text"),
    )
    novel = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 8000000).alias("doc_id"),
        F.lit("xx").alias("lang"),
        F.col("text"),
    )
    return rekeyed.unionByName(novel)


def staged_fit_index(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per corpus fingerprint) the base quality fit — the
    k-row model table the drift monitor's every batch broadcasts,
    maintained exactly like the dedup/ANN/hash indexes."""
    import os

    return _staged_index(
        spark,
        sf_dir,
        "documents",
        "quality_fit_idx",
        "fit",
        lambda idx: TR.quality_linear_fit(load_table(spark, sf_dir, "documents"))
        .write.mode("overwrite")
        .parquet(os.path.join(idx, "fit")),
    )


def q_quality_fit_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitor the trained model: re-fit chars~tokens on a fresh batch
    (with 'en' deterministically damaged) and compare each language's
    slope against the staged base fit — the per-ingest-batch calibration
    check; see operators/training.quality_fit_drift."""
    import os

    idx = staged_fit_index(spark, sf_dir)
    base_fit = spark.read.parquet(os.path.join(idx, "fit"))
    fresh = _drift_delta(load_table(spark, sf_dir, "documents"))
    return TR.quality_fit_drift(base_fit, fresh)


ORA_QUALITY_FIT_DRIFT = f"""
WITH fresh AS (
  SELECT doc_id + 6000000 AS doc_id, lang,
         CASE WHEN lang = 'en' THEN replace(text, ' ', ' zzzz ')
              ELSE text END AS text
  FROM documents
  UNION ALL
  SELECT doc_id + 8000000 AS doc_id, 'xx' AS lang, text
  FROM documents WHERE doc_id % 97 = 0
),
base_fit AS ({TR.ora_linear_fit("documents")}),
fresh_fit AS ({TR.ora_linear_fit("fresh")})
SELECT f.lang,
       f.n_docs AS n_fresh,
       b.slope_milli AS base_slope_milli,
       f.slope_milli AS fresh_slope_milli,
       CAST(abs(f.slope_milli - b.slope_milli) AS BIGINT) AS slope_drift_milli,
       CASE WHEN b.slope_milli IS NULL THEN true
            ELSE abs(f.slope_milli - b.slope_milli) > {TR.DRIFT_TOL_MILLI}
       END AS drifted
FROM fresh_fit f LEFT JOIN base_fit b USING (lang)
"""


# Same integer milli-unit features and weights; Spark `div` and DuckDB `//`
# agree (floor) because every dividend here is non-negative.
def _ora_quality_feats(src: str) -> str:
    """The quality-classifier feature select parametrized over its source
    relation — shared verbatim by ORA_QUALITY_LOGIT (src='documents') and
    the ingest-admission funnel's quality arm (src='delta')."""
    return f"""SELECT doc_id,
         (1000 * CAST(len(list_filter(string_split(text, ' '),
                 t -> list_contains({_STOP_LIST}, t))) AS BIGINT))
           // CAST(len(string_split(text, ' ')) AS BIGINT) AS stop_ratio_m,
         (1000 * CAST(length(replace(text, ' ', '')) AS BIGINT))
           // CAST(len(string_split(text, ' ')) AS BIGINT) AS wlen_m,
         (1000 * CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT))
           // CAST(greatest(length(text), 1) AS BIGINT) AS digit_ratio_m,
         (1000 * CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT))
           // CAST(greatest(length(text), 1) AS BIGINT) AS punct_ratio_m
  FROM {src}"""


ORA_QUALITY_LOGIT = f"""
WITH f AS (
  {_ora_quality_feats("documents")}
)
SELECT doc_id, stop_ratio_m, wlen_m, digit_ratio_m, punct_ratio_m,
       CAST(-2600 + 6 * stop_ratio_m + wlen_m // 2
            - 3 * digit_ratio_m - 4 * punct_ratio_m AS BIGINT) AS logit_milli,
       (-2600 + 6 * stop_ratio_m + wlen_m // 2
            - 3 * digit_ratio_m - 4 * punct_ratio_m) >= 0 AS keep
FROM f
"""


# Replays the admission funnel exactly: the three-arm delta, the sha256
# exact gate, the containment probe restricted to the not-exact sliver
# (the same funnel pruning the Spark plan does), and the quality logit —
# each arm the same SQL its standalone oracle uses.
# The admission funnel's full CTE chain (delta arms -> exact -> containment
# -> near-dup band probe -> quality), shared verbatim by the funnel oracle
# and the index-merge oracle built on the admitted set.
_ORA_ADMISSION_CTES = f"""
WITH delta AS ({_ORA_CONTAINMENT_DELTA}
  UNION ALL
  SELECT doc_id + 5000000 AS doc_id, text
  FROM documents WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id + 7000000 AS doc_id,
         text || ' ' || substring(reverse(text), 1,
                                  greatest(length(text) // 6, 6)) AS text
  FROM documents WHERE doc_id % 3 = 2
),
bh AS (SELECT DISTINCT sha256(text) AS h FROM documents),
exact AS (
  SELECT DISTINCT d.doc_id
  FROM (SELECT doc_id, sha256(text) AS h FROM delta) d JOIN bh USING (h)
),
ne AS (SELECT * FROM delta WHERE doc_id NOT IN (SELECT doc_id FROM exact)),
{_ora_containment_probe("ne")},
cont AS (
  SELECT DISTINCT i.delta_id AS doc_id
  FROM inter i JOIN dsizes sa ON sa.doc_id = i.delta_id
  WHERE 10 * n_inter >= 9 * sa.n_toks
),
nc AS (SELECT * FROM ne WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
{_ora_shingles_over("nc", "nctoks")},
nd_hashed AS (
  SELECT doc_id, tok % {D.MINHASH_PRIME} AS a, tok % {D.MINHASH_PRIME_B} AS b
  FROM (SELECT doc_id, tok FROM btoks UNION ALL SELECT doc_id, tok FROM nctoks)
),
nd_sigs AS (
  SELECT doc_id, seed, MIN((a + seed * (2*b + 1)) % {D.MINHASH_PRIME}) AS sig
  FROM nd_hashed CROSS JOIN (SELECT unnest([{_MINHASH_SEEDS}]) AS seed) seeds
  GROUP BY doc_id, seed
),
nd_bands AS (
  SELECT doc_id, seed // {D.BAND_ROWS} AS band_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list(sig ORDER BY seed)),
                     (acc, s) -> (acc * {D.SHINGLE_B} + s) % {D.SHINGLE_P}) AS band_key
  FROM nd_sigs GROUP BY doc_id, seed // {D.BAND_ROWS}
),
nd_base AS (
  SELECT doc_id, band_id, band_key FROM nd_bands WHERE doc_id < 1000000
  QUALIFY row_number() OVER (PARTITION BY band_id, band_key ORDER BY doc_id)
          <= {D.MAX_BUCKET}
),
nd_delta AS (
  SELECT doc_id, band_id, band_key FROM nd_bands WHERE doc_id >= 1000000
  QUALIFY row_number() OVER (PARTITION BY band_id, band_key ORDER BY doc_id)
          <= {D.MAX_BUCKET}
),
nd_cands AS (
  SELECT DISTINCT d.doc_id AS delta_id, b.doc_id AS base_id
  FROM nd_delta d JOIN nd_base b USING (band_id, band_key)
),
nd_inter AS (
  SELECT c.delta_id, c.base_id, COUNT(*) AS n_inter
  FROM nd_cands c
  JOIN nctoks ta ON ta.doc_id = c.delta_id
  JOIN btoks tb ON tb.doc_id = c.base_id AND tb.tok = ta.tok
  GROUP BY c.delta_id, c.base_id
),
ncsizes AS (SELECT doc_id, COUNT(*) AS n_toks FROM nctoks GROUP BY doc_id),
nd AS (
  SELECT DISTINCT i.delta_id AS doc_id
  FROM nd_inter i
  JOIN ncsizes sa ON sa.doc_id = i.delta_id
  JOIN bsizes sb ON sb.doc_id = i.base_id
  WHERE CAST(n_inter AS DOUBLE)
        / CAST(sa.n_toks + sb.n_toks - n_inter AS DOUBLE) >= 0.8
),
q AS (
  SELECT doc_id,
         (-2600 + 6 * stop_ratio_m + wlen_m // 2
              - 3 * digit_ratio_m - 4 * punct_ratio_m) >= 0 AS keep
  FROM ({_ora_quality_feats("delta")}) f
)"""


ORA_INGEST_ADMISSION = f"""{_ORA_ADMISSION_CTES}
SELECT d.doc_id,
       (d.doc_id IN (SELECT doc_id FROM exact)) AS is_exact,
       (d.doc_id IN (SELECT doc_id FROM cont)) AS is_contained,
       (d.doc_id IN (SELECT doc_id FROM nd)) AS is_near_dup,
       q.keep AS quality_keep,
       (d.doc_id NOT IN (SELECT doc_id FROM exact)
        AND d.doc_id NOT IN (SELECT doc_id FROM cont)
        AND d.doc_id NOT IN (SELECT doc_id FROM nd)
        AND q.keep) AS admitted
FROM delta d JOIN q USING (doc_id)
"""


def q_ingest_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE-shaped index-maintenance job that completes the ingest
    story: run the 4-gate admission funnel, then APPEND the admitted
    docs' per-doc rows to the maintained exact-hash and near-dup band
    indexes (operators/ingest.merge_admitted_into_indexes) — so
    tomorrow's batches are deduplicated against today's admissions.
    Emits (index_table, rows_before, rows_appended, rows_after) per
    appendable sub-table, with rows_appended counted from the files
    actually written.  The stats-bearing containment index is
    deliberately excluded (df changes on merge: it refreshes by
    periodic rebuild, not append)."""
    import os
    import shutil
    import tempfile

    from ..operators import ingest as I

    delta = _ingest_delta(load_table(spark, sf_dir, "documents"))
    cidx = staged_containment_index(spark, sf_dir)
    hidx = staged_hash_index(spark, sf_dir)
    bidx = staged_base_index(spark, sf_dir)
    decisions = I.ingest_admission_batch(spark, cidx, hidx, bidx, delta)
    admitted = decisions.filter("admitted").select("doc_id")
    ext = tempfile.mkdtemp(
        prefix="ingest_idx_ext_",
        dir=os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir()),
    )
    try:
        # the returned frame is a local table built from read-back counts,
        # so the extension files can be reclaimed once it is constructed
        return I.merge_admitted_into_indexes(
            spark, hidx, bidx, delta, admitted, ext
        )
    finally:
        shutil.rmtree(ext, ignore_errors=True)


def q_curation_admission_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL ingest-to-curation story in one composed run — VERDICT
    r16 item 8's second option, registered at every SF: the synthetic
    ingest batch flows through the 4-gate admission funnel, the ADMITTED
    docs join the corpus, and the combined corpus flows through the
    curation funnel (normalize -> exact-dedup -> quality gate -> per-
    language report).  This is the daily pipeline a production corpus
    runs end-to-end: gates keep near/exact/contained duplicates OUT at
    the door, and the report shows what the curation tier still drops
    from the survivors.  Language attrs re-attach via the delta id
    scheme (every arm's orig id is doc_id % 1000000)."""
    from ..operators import curation as Cur
    from ..operators import ingest as I

    docs = load_table(spark, sf_dir, "documents")
    delta = _ingest_delta(docs)
    cidx = staged_containment_index(spark, sf_dir)
    hidx = staged_hash_index(spark, sf_dir)
    bidx = staged_base_index(spark, sf_dir)
    decisions = I.ingest_admission_batch(spark, cidx, hidx, bidx, delta)
    # pin the tiny admitted-id list once: since the r20 funnel-barrier
    # shrink `decisions` is a real funnel plan, and the curation pipeline
    # downstream materializes its own barriers — each would otherwise
    # re-run the funnel to rebuild this broadcast
    admitted_ids = (
        decisions.filter("admitted").select("doc_id").localCheckpoint(eager=True)
    )
    adm = delta.join(F.broadcast(admitted_ids), "doc_id", "left_semi")
    corpus = docs.select("doc_id", "text").unionByName(adm)
    attrs = docs.select(F.col("doc_id").alias("orig_id"), "lang")
    with_lang = (
        corpus.withColumn("orig_id", F.col("doc_id") % 1000000)
        .join(attrs, "orig_id")
        .select("doc_id", "text", "lang")
    )
    return Cur.curation_pipeline(with_lang)


def _ora_curation_admission_e2e() -> str:
    """Compose the two shared oracle pieces verbatim: the admission
    funnel's full CTE chain defines the admitted set, a corpus CTE
    unions base docs with the admitted delta, and the parametrized
    curation-pipeline oracle replays the funnel report over it."""
    from ..operators import curation as Cur

    corpus_cte = (
        _ORA_ADMISSION_CTES.replace("WITH ", "", 1)
        + """,
admitted AS (
  SELECT d.doc_id FROM delta d JOIN q USING (doc_id)
  WHERE d.doc_id NOT IN (SELECT doc_id FROM exact)
    AND d.doc_id NOT IN (SELECT doc_id FROM cont)
    AND d.doc_id NOT IN (SELECT doc_id FROM nd)
    AND q.keep
),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id, text FROM delta
  WHERE doc_id IN (SELECT doc_id FROM admitted)
),"""
    )
    return Cur.ORA_CURATION_PIPELINE.format(
        corpus_cte=corpus_cte, stop_list=_STOP_LIST
    )


ORA_INGEST_INDEX_MERGE = f"""{_ORA_ADMISSION_CTES},
admitted AS (
  SELECT d.doc_id FROM delta d JOIN q USING (doc_id)
  WHERE d.doc_id NOT IN (SELECT doc_id FROM exact)
    AND d.doc_id NOT IN (SELECT doc_id FROM cont)
    AND d.doc_id NOT IN (SELECT doc_id FROM nd)
    AND q.keep
),
counts AS (
  SELECT 'bh' AS index_table,
         (SELECT COUNT(DISTINCT sha256(text)) FROM documents) AS rows_before,
         (SELECT COUNT(DISTINCT h) FROM (
             SELECT sha256(text) AS h FROM delta
             WHERE doc_id IN (SELECT doc_id FROM admitted)) x
          WHERE h NOT IN (SELECT sha256(text) FROM documents)) AS rows_appended
  UNION ALL
  SELECT 'bands',
         (SELECT COUNT(*) FROM nd_base),
         (SELECT COUNT(*) FROM nd_bands
          WHERE doc_id IN (SELECT doc_id FROM admitted))
  UNION ALL
  SELECT 'sizes',
         (SELECT COUNT(*) FROM documents),
         (SELECT COUNT(*) FROM admitted)
  UNION ALL
  SELECT 'toks_arr',
         (SELECT COUNT(*) FROM documents),
         (SELECT COUNT(*) FROM admitted)
)
SELECT index_table,
       CAST(rows_before AS BIGINT) AS rows_before,
       CAST(rows_appended AS BIGINT) AS rows_appended,
       CAST(rows_before + rows_appended AS BIGINT) AS rows_after
FROM counts
"""


def _ingest_delta2(docs: DataFrame) -> DataFrame:
    """The DAY-2 synthetic ingest batch, defined with NO reference to the
    day-1 outcome (the oracle derives that outcome itself): every day-1
    rev-arm doc (doc_id % 3 == 1, reversed text — the arm whose quality
    survivors day 1 ADMITS) replayed verbatim (re-keyed +8000000), plus
    the same docs with ~1/6 of the ORIGINAL text appended as a tail
    (re-keyed +9000000) — the appended-tail near-dup shape.  Twins of
    day-1 ADMITTED docs are caught by the MERGED indexes (arm A by the
    appended exact hashes, arm B only by the appended band rows); twins
    of day-1 REJECTS are in no index and fall through to the quality
    gate — the per-doc discrimination that proves the merge changed
    today's decisions.  Replayed verbatim in SQL by the day-2 oracle."""
    rev = docs.filter(F.col("doc_id") % 3 == 1).select(
        (F.col("doc_id") + 8000000).alias("doc_id"),
        F.reverse("text").alias("text"),
    )
    tail = F.expr("substring(text, 1, greatest(length(text) div 6, 6))")
    near = docs.filter(F.col("doc_id") % 3 == 1).select(
        (F.col("doc_id") + 9000000).alias("doc_id"),
        F.concat(F.reverse("text"), F.lit(" "), tail).alias("text"),
    )
    return rev.unionByName(near)


def staged_merged_index(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per corpus fingerprint) the MERGED day-2 index — the
    day-1 staged base index PLUS the extension rows of the day-1 admitted
    docs, exactly the base ∪ extension surface that
    operators/ingest.merge_admitted_into_indexes promises tomorrow's
    batches are gated against.  The extension rows come from the SAME
    code path the proven merge query runs (merge_admitted_into_indexes
    into a scratch dir); each sub-table is then written as ONE
    base-∪-extension parquet table, toks_arr last so its _SUCCESS marker
    doubles as the whole-index completeness flag (a crash mid-merge
    restages — the union write makes a half-merged sub-table
    unobservable, where a bare mode("append") after overwrite would
    leave a _SUCCESS-bearing table missing its extension).  All
    merge-time work beyond the one-time base staging is delta-sized."""
    import os
    import shutil
    import tempfile

    from ..operators import ingest as I

    def build(idx: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        delta1 = _ingest_delta(docs)
        cidx = staged_containment_index(spark, sf_dir)
        hidx = staged_hash_index(spark, sf_dir)
        bidx = staged_base_index(spark, sf_dir)
        decisions = I.ingest_admission_batch(spark, cidx, hidx, bidx, delta1)
        admitted = decisions.filter("admitted").select("doc_id")
        ext = tempfile.mkdtemp(
            prefix="merged_idx_ext_",
            dir=os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir()),
        )
        try:
            I.merge_admitted_into_indexes(spark, hidx, bidx, delta1, admitted, ext)
            for sub, src in (
                ("bh", hidx),
                ("bands", bidx),
                ("sizes", bidx),
                ("toks_arr", bidx),
            ):
                spark.read.parquet(f"{src}/{sub}").unionByName(
                    spark.read.parquet(f"{ext}/{sub}")
                ).write.mode("overwrite").parquet(f"{idx}/{sub}")
        finally:
            shutil.rmtree(ext, ignore_errors=True)

    # key the day-1 delta/gate logic into the path (ADVICE r18) so a
    # change to _ingest_delta or the admission gates restages rather
    # than serving a merged index built under the old rules
    token = _logic_fp(
        _ingest_delta, I.ingest_admission_batch, I.merge_admitted_into_indexes, build
    )
    return _staged_index(
        spark, sf_dir, "documents", f"merged_ingest_idx_{token}", "toks_arr", build
    )


def q_ingest_admission_day2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAY 2 of the ingest story — the semantics the MERGE exists to
    provide, proven end-to-end: a second day's batch is gated against the
    MERGED (base ∪ day-1 extension) exact-hash and band indexes, so
    exact copies AND near-copies of docs admitted YESTERDAY are rejected
    today even though they never appear in the base corpus.  Arm A
    replays the day-1 rev arm verbatim (+8000000): twins of admitted
    docs are caught by the merged EXACT gate's appended hashes.  Arm B
    appends a tail to the same texts (+9000000): high Jaccard vs the
    admitted doc but a fresh hash, caught ONLY by the appended band rows
    — gate 3 through the extension, the planted rejection that flips if
    the merge is skipped (pytest: test_ingest.test_day2_flips_without_
    merge).  The containment gate stays pinned to the BASE index
    (rebuild-not-append semantics, see merge_admitted_into_indexes).
    The oracle replays BOTH days: the day-1 funnel CTE chain defines the
    admitted set, union CTEs build the merged indexes, and the day-2
    funnel runs over them."""
    docs = load_table(spark, sf_dir, "documents")
    delta2 = _ingest_delta2(docs)
    cidx = staged_containment_index(spark, sf_dir)
    midx = staged_merged_index(spark, sf_dir)
    from ..operators import ingest as I

    # one merged dir carries all four sub-tables: serve it as both the
    # hash index (bh) and the band index (bands/sizes/toks_arr)
    return I.ingest_admission_batch(spark, cidx, midx, midx, delta2)


def _ora_day2_funnel() -> str:
    """The FULL-REPLAY day-2 oracle: the day-1 admission CTE chain
    (shared verbatim with the funnel/merge/e2e oracles) -> admitted set
    -> merged-index CTEs (base ∪ admitted extension, bands uncapped on
    the extension exactly like the append) -> the day-2 funnel over the
    merged surfaces.  Base-side containment CTEs (btoks/df/bsizes/bidx)
    are REUSED from the day-1 probe; only delta-side CTEs are
    re-instantiated with a '2' suffix.

    The multiply-referenced bridge CTEs are forced MATERIALIZED (the
    post-processing replace below): DuckDB otherwise inlines ``admitted``
    -- and with it the ENTIRE day-1 funnel including the MinHash chain --
    into each of its four day-2 references, turning a ~6 s oracle into a
    ~8 min one at sf0.001 (measured).  The shared day-1 CTE text stays
    byte-identical to the other admission-family oracles."""
    sql = f"""{_ORA_ADMISSION_CTES},
admitted AS (
  SELECT d.doc_id FROM delta d JOIN q USING (doc_id)
  WHERE d.doc_id NOT IN (SELECT doc_id FROM exact)
    AND d.doc_id NOT IN (SELECT doc_id FROM cont)
    AND d.doc_id NOT IN (SELECT doc_id FROM nd)
    AND q.keep
),
delta2 AS (
  SELECT doc_id + 8000000 AS doc_id, reverse(text) AS text
  FROM documents WHERE doc_id % 3 = 1
  UNION ALL
  SELECT doc_id + 9000000 AS doc_id,
         reverse(text) || ' ' || substring(text, 1,
                                           greatest(length(text) // 6, 6)) AS text
  FROM documents WHERE doc_id % 3 = 1
),
bh2 AS (
  SELECT h FROM bh
  UNION
  SELECT sha256(text) AS h FROM delta
  WHERE doc_id IN (SELECT doc_id FROM admitted)
),
exact2 AS (
  SELECT DISTINCT d.doc_id
  FROM (SELECT doc_id, sha256(text) AS h FROM delta2) d JOIN bh2 USING (h)
),
ne2 AS (SELECT * FROM delta2 WHERE doc_id NOT IN (SELECT doc_id FROM exact2)),
{_ora_shingles_over("ne2", "dtoks2")},
dsizes2 AS (SELECT doc_id, COUNT(*) AS n_toks FROM dtoks2 GROUP BY doc_id),
dranked2 AS (
  SELECT t.doc_id, t.tok, s.n_toks,
         row_number() OVER (
           PARTITION BY t.doc_id ORDER BY coalesce(d.df, 0), t.tok
         ) AS p
  FROM dtoks2 t LEFT JOIN df d USING (tok) JOIN dsizes2 s USING (doc_id)
),
dpref2 AS (
  SELECT doc_id, tok, p, n_toks FROM dranked2
  WHERE p <= n_toks - (9 * n_toks + 9) // 10 + 1
  QUALIFY row_number() OVER (PARTITION BY tok ORDER BY doc_id) <= {D.PREFIX_CAP}
),
g2 AS (
  SELECT a.doc_id AS delta_id, b.base_id,
         MIN(a.p) AS fa, MIN(b.pb) AS fb,
         ANY_VALUE(a.n_toks) AS n_a, ANY_VALUE(b.n_b) AS n_b
  FROM dpref2 a JOIN bidx b USING (tok)
  WHERE 10 * b.n_b >= 9 * a.n_toks
  GROUP BY 1, 2
),
cands2 AS (
  SELECT delta_id, base_id FROM g2
  WHERE 1 + least(n_a - fa, n_b - fb) >= (9 * n_a + 9) // 10
),
inter2 AS (
  SELECT c.delta_id, c.base_id, COUNT(*) AS n_inter
  FROM cands2 c
  JOIN dtoks2 ta ON ta.doc_id = c.delta_id
  JOIN btoks tb ON tb.doc_id = c.base_id AND tb.tok = ta.tok
  GROUP BY c.delta_id, c.base_id
),
cont2 AS (
  SELECT DISTINCT i.delta_id AS doc_id
  FROM inter2 i JOIN dsizes2 sa ON sa.doc_id = i.delta_id
  WHERE 10 * n_inter >= 9 * sa.n_toks
),
nc2 AS (SELECT * FROM ne2 WHERE doc_id NOT IN (SELECT doc_id FROM cont2)),
{_ora_shingles_over("nc2", "nc2toks")},
nd2_hashed AS (
  SELECT doc_id, tok % {D.MINHASH_PRIME} AS a, tok % {D.MINHASH_PRIME_B} AS b
  FROM nc2toks
),
nd2_sigs AS (
  SELECT doc_id, seed, MIN((a + seed * (2*b + 1)) % {D.MINHASH_PRIME}) AS sig
  FROM nd2_hashed CROSS JOIN (SELECT unnest([{_MINHASH_SEEDS}]) AS seed) seeds
  GROUP BY doc_id, seed
),
nd2_bands AS (
  SELECT doc_id, seed // {D.BAND_ROWS} AS band_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list(sig ORDER BY seed)),
                     (acc, s) -> (acc * {D.SHINGLE_B} + s) % {D.SHINGLE_P}) AS band_key
  FROM nd2_sigs GROUP BY doc_id, seed // {D.BAND_ROWS}
),
nd2_delta AS (
  SELECT doc_id, band_id, band_key FROM nd2_bands
  QUALIFY row_number() OVER (PARTITION BY band_id, band_key ORDER BY doc_id)
          <= {D.MAX_BUCKET}
),
band_base2 AS (
  SELECT doc_id, band_id, band_key FROM nd_base
  UNION ALL
  SELECT doc_id, band_id, band_key FROM nd_bands
  WHERE doc_id IN (SELECT doc_id FROM admitted)
),
mtoks AS (
  SELECT doc_id, tok FROM btoks
  UNION ALL
  SELECT doc_id, tok FROM nctoks
  WHERE doc_id IN (SELECT doc_id FROM admitted)
),
msizes AS (
  SELECT doc_id, n_toks FROM bsizes
  UNION ALL
  SELECT doc_id, n_toks FROM ncsizes
  WHERE doc_id IN (SELECT doc_id FROM admitted)
),
nd2_cands AS (
  SELECT DISTINCT d.doc_id AS delta_id, b.doc_id AS base_id
  FROM nd2_delta d JOIN band_base2 b USING (band_id, band_key)
),
nd2_inter AS (
  SELECT c.delta_id, c.base_id, COUNT(*) AS n_inter
  FROM nd2_cands c
  JOIN nc2toks ta ON ta.doc_id = c.delta_id
  JOIN mtoks tb ON tb.doc_id = c.base_id AND tb.tok = ta.tok
  GROUP BY c.delta_id, c.base_id
),
nc2sizes AS (SELECT doc_id, COUNT(*) AS n_toks FROM nc2toks GROUP BY doc_id),
nd2 AS (
  SELECT DISTINCT i.delta_id AS doc_id
  FROM nd2_inter i
  JOIN nc2sizes sa ON sa.doc_id = i.delta_id
  JOIN msizes sb ON sb.doc_id = i.base_id
  WHERE CAST(n_inter AS DOUBLE)
        / CAST(sa.n_toks + sb.n_toks - n_inter AS DOUBLE) >= 0.8
),
q2 AS (
  SELECT doc_id,
         (-2600 + 6 * stop_ratio_m + wlen_m // 2
              - 3 * digit_ratio_m - 4 * punct_ratio_m) >= 0 AS keep
  FROM ({_ora_quality_feats("delta2")}) f
)
SELECT d.doc_id,
       (d.doc_id IN (SELECT doc_id FROM exact2)) AS is_exact,
       (d.doc_id IN (SELECT doc_id FROM cont2)) AS is_contained,
       (d.doc_id IN (SELECT doc_id FROM nd2)) AS is_near_dup,
       q2.keep AS quality_keep,
       (d.doc_id NOT IN (SELECT doc_id FROM exact2)
        AND d.doc_id NOT IN (SELECT doc_id FROM cont2)
        AND d.doc_id NOT IN (SELECT doc_id FROM nd2)
        AND q2.keep) AS admitted
FROM delta2 d JOIN q2 USING (doc_id)
"""
    for cte in ("admitted", "mtoks", "msizes", "band_base2", "nc2toks", "dtoks2"):
        sql = sql.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (")
    return sql


def q_ingest_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band-index COMPACTION maintenance job, registered and oracled
    (VERDICT r17 item 3): merge_admitted_into_indexes appends band rows
    UNCAPPED on the promise that the periodic compaction job re-applies
    the bucket caps — this query IS that job, run over a DELIBERATELY
    over-appended fixture: the staged base band index grown with 70
    re-keyed exact-copy band-row sets of the 8 lowest docs (an exact
    copy shares ALL its source's band keys, so those buckets exceed the
    64 cap deterministically at every sf; the seed set is FIXED-size, so
    the fixture stays trigger-sized, never corpus-proportional).  The
    job re-applies the deterministic cap (lowest doc_ids win — the
    build-time rule, so compaction is idempotent), rewrites the table,
    and reports per band_id with rows_after counted from the written
    files.  Funnel-still-green + idempotence pinned by
    test_ingest.test_funnel_green_on_compacted_index."""
    import os
    import shutil
    import tempfile

    from ..operators import ingest as I

    bidx = staged_base_index(spark, sf_dir)
    base_bands = spark.read.parquet(f"{bidx}/bands").select(
        "doc_id", "band_id", "band_key"
    )
    copies = (
        base_bands.filter(F.col("doc_id") < 8)
        .select(
            "doc_id",
            "band_id",
            "band_key",
            F.explode(F.sequence(F.lit(1), F.lit(70))).alias("j"),
        )
        .select(
            (
                F.col("doc_id") + 10000000 + F.col("j").cast("long") * 1000000
            ).alias("doc_id"),
            "band_id",
            "band_key",
        )
    )
    grown = base_bands.unionByName(copies)
    out = tempfile.mkdtemp(
        prefix="band_compact_",
        dir=os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir()),
    )
    try:
        # the compacted table is scratch here (the fixture is synthetic);
        # production atomically swaps it in for the index's bands dir
        return I.compact_band_index(spark, grown, out).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


ORA_INGEST_INDEX_COMPACTION = f"""
WITH {_ora_shingles_over("documents", "btoks")},
bhashed AS (
  SELECT doc_id, tok % {D.MINHASH_PRIME} AS a, tok % {D.MINHASH_PRIME_B} AS b
  FROM btoks
),
bsigs AS (
  SELECT doc_id, seed, MIN((a + seed * (2*b + 1)) % {D.MINHASH_PRIME}) AS sig
  FROM bhashed CROSS JOIN (SELECT unnest([{_MINHASH_SEEDS}]) AS seed) seeds
  GROUP BY doc_id, seed
),
bbands AS (
  SELECT doc_id, seed // {D.BAND_ROWS} AS band_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list(sig ORDER BY seed)),
                     (acc, s) -> (acc * {D.SHINGLE_B} + s) % {D.SHINGLE_P}) AS band_key
  FROM bsigs GROUP BY doc_id, seed // {D.BAND_ROWS}
),
base_bands AS (
  SELECT doc_id, band_id, band_key FROM bbands
  QUALIFY row_number() OVER (PARTITION BY band_id, band_key ORDER BY doc_id)
          <= {D.MAX_BUCKET}
),
grown AS MATERIALIZED (
  SELECT doc_id, band_id, band_key FROM base_bands
  UNION ALL
  SELECT b.doc_id + 10000000 + j.j * 1000000 AS doc_id, b.band_id, b.band_key
  FROM base_bands b, (SELECT unnest(range(1, 71)) AS j) j
  WHERE b.doc_id < 8
),
compacted AS (
  SELECT doc_id, band_id, band_key FROM grown
  QUALIFY row_number() OVER (PARTITION BY band_id, band_key ORDER BY doc_id)
          <= {D.MAX_BUCKET}
),
before AS (
  SELECT band_id, COUNT(*) AS rows_before,
         COUNT(DISTINCT band_key) AS buckets
  FROM grown GROUP BY band_id
),
over_cap AS (
  SELECT band_id, COUNT(*) AS buckets_over_cap
  FROM (
    SELECT band_id, band_key, COUNT(*) AS n FROM grown GROUP BY 1, 2
  ) WHERE n > {D.MAX_BUCKET}
  GROUP BY band_id
),
afterc AS (SELECT band_id, COUNT(*) AS rows_after FROM compacted GROUP BY band_id)
SELECT CAST(b.band_id AS BIGINT) AS band_id,
       CAST(rows_before AS BIGINT) AS rows_before,
       CAST(rows_after AS BIGINT) AS rows_after,
       CAST(rows_before - rows_after AS BIGINT) AS rows_dropped,
       CAST(buckets AS BIGINT) AS buckets,
       CAST(COALESCE(buckets_over_cap, 0) AS BIGINT) AS buckets_over_cap
FROM before b JOIN afterc a USING (band_id) LEFT JOIN over_cap o USING (band_id)
"""


def q_quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable per-source histogram quantile sketch (equi-width cells,
    exact-integer p50/p90/p99 bin edges)."""
    return T.quantile_sketch_merge(load_table(spark, sf_dir, "documents"))


ORA_QUANTILE_SKETCH = """
WITH cells AS (
  SELECT source, n_chars // 64 AS bin, COUNT(*) AS cnt
  FROM documents GROUP BY 1, 2
), cum AS (
  SELECT source, bin, cnt,
         SUM(cnt) OVER (PARTITION BY source ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY source) AS total
  FROM cells
)
SELECT source,
       CAST(MAX(total) AS BIGINT) AS n_docs,
       CAST(64 * (MIN(CASE WHEN 100 * cum >= 50 * total THEN bin END) + 1) AS BIGINT) AS p50_hi,
       CAST(64 * (MIN(CASE WHEN 100 * cum >= 90 * total THEN bin END) + 1) AS BIGINT) AS p90_hi,
       CAST(64 * (MIN(CASE WHEN 100 * cum >= 99 * total THEN bin END) + 1) AS BIGINT) AS p99_hi
FROM cum GROUP BY source
"""


ORA_TEXT_QUALITY = f"""
SELECT doc_id,
       length(text) AS n_chars,
       len(string_split(text, ' ')) AS n_words,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_words,
       CAST(length(replace(text, ' ', '')) AS DOUBLE)
         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
       CAST(len(list_filter(string_split(text, ' '),
                            t -> list_contains({_STOP_LIST}, t))) AS DOUBLE)
         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio
FROM documents
"""


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.token_counts(load_table(spark, sf_dir, "documents"))


ORA_TEXT_TOKENS = """
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS re_tokens,
       length(text) - length(replace(text, ' ', '')) AS n_spaces
FROM documents
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.lang_id(load_table(spark, sf_dir, "documents"))


def _ora_langid() -> str:
    langs = sorted(T.LANG_MARKERS)

    def score(lang: str) -> str:
        markers = "[" + ", ".join(f"'{m}'" for m in T.LANG_MARKERS[lang]) + "]"
        return (
            f"len(list_filter(string_split(text, ' '), "
            f"t -> list_contains({markers}, t)))"
        )

    score_cols = ",\n       ".join(f"{score(lang)} AS score_{lang}" for lang in langs)
    # replay the exact strict-greater-than fold the Spark side does
    best = f"'{langs[0]}'"
    best_score = f"score_{langs[0]}"
    for lang in langs[1:]:
        best = f"CASE WHEN score_{lang} > {best_score} THEN '{lang}' ELSE {best} END"
        best_score = (
            f"CASE WHEN score_{lang} > {best_score} THEN score_{lang} ELSE {best_score} END"
        )
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
       {score_cols}
  FROM documents
)
SELECT doc_id, lang AS labeled_lang,
       {best} AS detected_lang,
       {best_score} AS marker_hits
FROM scored
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.repetition_stats(load_table(spark, sf_dir, "documents"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.fingerprints(load_table(spark, sf_dir, "documents"))


ORA_TEXT_FINGERPRINT = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ' '),
             t -> CAST(length(t) + (ascii(substring(t, 1, 1)) - 96) * 131 AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % {T.FP_MOD}
       ) AS fingerprint
FROM documents
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the customer dim (numeric-id masking + stable md5
    pseudonym) — operators/text.py:pii_redact."""
    return T.pii_redact(load_table(spark, sf_dir, "customer"), "c_name", "c_custkey")


ORA_PII_REDACT = """
SELECT c_custkey,
       regexp_replace(c_name, '[0-9]+', '<ID>', 'g') AS redacted,
       CAST(length(c_name)
            - length(regexp_replace(c_name, '[0-9]', '', 'g')) AS BIGINT)
           AS digits_redacted,
       substring(md5(c_name), 1, 8) AS pseudo_id
FROM customer
"""


def q_pii_redact_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadened PII scrub (emails, IPv4s, phone formats, id runs) over a
    synthetic per-customer contact blob — operators/text.py:pii_redact_v2.

    The corpus customer dim carries no raw contact strings, so the blob is
    DERIVED deterministically from (c_name, c_custkey): an email minted
    from the lowercased name, a phone and an IPv4 minted from arithmetic
    on the key.  Both engines build the identical blob, so the oracle
    exercises the exact redaction regexes byte-for-byte — the planted-PII
    masking proof lives in tests/test_text.py with literal strings."""
    # 7 regex passes per row is a genuinely WIDE map, and the customer dim
    # arrives as one file split locally — fan the compact rows out first
    # (no-op on a cluster where the scan has many splits); measured
    # 4.2 s -> sub-second at the 10x corpus.
    c = D.fan_out(load_table(spark, sf_dir, "customer"))
    blob = F.expr(
        "concat(c_name, ' <', replace(lower(c_name), '#', '.'), '@example.com> ',"
        " cast(10 + c_custkey % 90 as string), '-',"
        " cast(100 + (c_custkey * 7) % 900 as string), '-',"
        " cast(100 + (c_custkey * 13) % 900 as string), '-',"
        " cast(1000 + (c_custkey * 31) % 9000 as string),"
        " ' ip=10.', cast(c_custkey % 256 as string),"
        " '.', cast((c_custkey div 256) % 256 as string),"
        " '.', cast(1 + c_custkey % 200 as string))"
    )
    return T.pii_redact_v2(
        c.select("c_custkey", blob.alias("contact")), "contact", "c_custkey"
    )


ORA_PII_REDACT_V2 = f"""
WITH blob AS (
  SELECT c_custkey,
         concat(c_name, ' <', replace(lower(c_name), '#', '.'), '@example.com> ',
                CAST(10 + c_custkey % 90 AS VARCHAR), '-',
                CAST(100 + (c_custkey * 7) % 900 AS VARCHAR), '-',
                CAST(100 + (c_custkey * 13) % 900 AS VARCHAR), '-',
                CAST(1000 + (c_custkey * 31) % 9000 AS VARCHAR),
                ' ip=10.', CAST(c_custkey % 256 AS VARCHAR),
                '.', CAST((c_custkey // 256) % 256 AS VARCHAR),
                '.', CAST(1 + c_custkey % 200 AS VARCHAR)) AS contact
  FROM customer
)
SELECT c_custkey,
       regexp_replace(regexp_replace(regexp_replace(regexp_replace(contact,
           '{T.PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{T.PII_IP_RE}', '<IP>', 'g'),
           '{T.PII_PHONE_RE}', '<PHONE>', 'g'),
           '{T.PII_ID_RE}', '<ID>', 'g') AS redacted,
       CAST(len(regexp_extract_all(contact, '{T.PII_EMAIL_RE}')) AS BIGINT)
           AS n_emails,
       CAST(len(regexp_extract_all(contact, '{T.PII_IP_RE}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(contact, '{T.PII_PHONE_RE}')) AS BIGINT)
           AS n_phones,
       CAST(length(contact)
            - length(regexp_replace(contact, '[0-9]', '', 'g')) AS BIGINT)
           AS digits_seen,
       substring(md5(contact), 1, 8) AS pseudo_id
FROM blob
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary heavy hitters over the corpus —
    operators/text.py:heavy_hitters."""
    return T.heavy_hitters(load_table(spark, sf_dir, "documents"), k=20)


ORA_HEAVY_HITTERS = """
SELECT word, COUNT(*) AS n FROM (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
) WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 20
"""


# --- multimodal ---------------------------------------------------------------


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    bd = M.with_binary_payload(load_table(spark, sf_dir, "documents"))
    return bd.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.col("meta.content_type").alias("content_type"),
        F.col("meta.shard").alias("shard"),
    )


ORA_MULTIMODAL_META = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       'image/fake' AS content_type,
       doc_id % 1000 AS shard
FROM documents
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (round 7): every payload is packed into a genuine
    24-bit BMP (deterministic pixel fill) and decoded back with the pure-
    Python BMP parser — header struct parse, bottom-up rows, stride
    padding — inside Arrow-batched mapInPandas.  Emits decoded pixel
    stats; the oracle replays them analytically (pixel bytes cycle the
    text bytes, so pixel_sum = full_cycles * text_byte_sum + prefix_sum)
    without parsing BMP — two independent routes to the same numbers."""
    docs = M.with_binary_payload(load_table(spark, sf_dir, "documents"))
    return M.extract_features(docs, M._bmp_row, M.FEATURE_SCHEMA)


# Corpus text is ASCII (guarded by tests/test_corpus_assumptions.py), so
# ascii(char) == payload byte value and octet_length == length.
_TEXT_SUM = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(range(1, length(text) + 1),"
    " p -> CAST(ascii(substring(text, CAST(p AS INT), 1)) AS BIGINT))),"
    " (a, x) -> a + x)"
)
_PREFIX_SUM = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(range(1, total % n + 1),"
    " p -> CAST(ascii(substring(text, CAST(p AS INT), 1)) AS BIGINT))),"
    " (a, x) -> a + x)"
)
ORA_MULTIMODAL_FEATURES = f"""
WITH g AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         {M.BMP_W_BASE} + octet_length(encode(text)) % {M.BMP_W_MOD} AS w,
         {M.BMP_H_BASE} + octet_length(encode(text)) % {M.BMP_H_MOD} AS h
  FROM documents
), t AS (
  SELECT doc_id, text, n, w, h, 3 * w * h AS total FROM g
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(w * h AS INT) AS n_pixels,
       CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
            ELSE (total // n) * {_TEXT_SUM}
                 + (CASE WHEN total % n = 0 THEN 0 ELSE {_PREFIX_SUM} END)
       END AS pixel_sum
FROM t
"""


def q_multimodal_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode (round 12): every payload is packed
    into a genuine 8-bit grayscale PNG — zlib-deflated IDAT, row filters
    cycling None/Sub/Up/Average/Paeth — and decoded back with the pure-
    Python parser (CRC-checked chunk walk, stdlib-zlib inflate, per-row
    filter reversal) inside Arrow-batched mapInPandas.  Emits decoded
    pixel stats; the oracle replays them analytically (pixel bytes cycle
    the text bytes: pixel_sum = full_cycles * text_byte_sum + prefix_sum,
    1 byte/pixel) without parsing PNG — two independent routes to the
    same numbers, so a filter-reversal bug cannot pass."""
    docs = M.with_binary_payload(load_table(spark, sf_dir, "documents"))
    return M.extract_features(docs, M._png_row, M.FEATURE_SCHEMA)


# Same analytic law as ORA_MULTIMODAL_FEATURES but grayscale (1 byte/pixel:
# total = w*h) and the PNG geometry constants.
_PNG_PREFIX_SUM = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(range(1, total % n + 1),"
    " p -> CAST(ascii(substring(text, CAST(p AS INT), 1)) AS BIGINT))),"
    " (a, x) -> a + x)"
)
ORA_MULTIMODAL_PNG_STATS = f"""
WITH g AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         {M.PNG_W_BASE} + octet_length(encode(text)) % {M.PNG_W_MOD} AS w,
         {M.PNG_H_BASE} + octet_length(encode(text)) % {M.PNG_H_MOD} AS h
  FROM documents
), t AS (
  SELECT doc_id, text, n, w, h, w * h AS total FROM g
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(w * h AS INT) AS n_pixels,
       CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
            ELSE (total // n) * {_TEXT_SUM}
                 + (CASE WHEN total % n = 0 THEN 0 ELSE {_PNG_PREFIX_SUM} END)
       END AS pixel_sum
FROM t
"""


def q_multimodal_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL transform-coded image decode (round 13): every payload is
    packed into a genuine baseline JFIF grayscale JPEG — Annex-K Huffman
    tables, differential DC, byte stuffing — and decoded back with the
    full pure-Python baseline decoder (marker/DQT/DHT parse, Huffman
    entropy decode, dequantize, dezigzag, 8x8 orthonormal IDCT) inside
    Arrow-batched mapInPandas.  The encoder emits DC-only constant 8x8
    blocks (block k's value cycles the text bytes), which survive
    quantize+IDCT bit-exactly, so the oracle replays the decoded stats
    analytically: pixel_sum = 64 * cycled block-value sum.  Two
    independent routes to the same numbers — an entropy-decode or IDCT
    bug cannot pass."""
    docs = M.with_binary_payload(load_table(spark, sf_dir, "documents"))
    return M.extract_features(docs, M._jpeg_row, M.FEATURE_SCHEMA)


# Same cycled-sum law as PNG/BMP, but cycling over the BLOCK index (total =
# blocks across * blocks down) and scaled by 64 pixels per constant block.
ORA_MULTIMODAL_JPEG_STATS = f"""
WITH g AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         {M.JPEG_WB_BASE} + octet_length(encode(text)) % {M.JPEG_WB_MOD} AS bw,
         {M.JPEG_HB_BASE} + octet_length(encode(text)) % {M.JPEG_HB_MOD} AS bh
  FROM documents
), t AS (
  SELECT doc_id, text, n, 8 * bw AS w, 8 * bh AS h, bw * bh AS total FROM g
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(w * h AS INT) AS n_pixels,
       CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
            ELSE 64 * ((total // n) * {_TEXT_SUM}
                 + (CASE WHEN total % n = 0 THEN 0 ELSE {_PNG_PREFIX_SUM} END))
       END AS pixel_sum
FROM t
"""


def q_multimodal_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 4:2:0 COLOR JPEG decode (round 14): every payload is packed
    into a genuine three-component baseline JFIF JPEG — Y sampled 2x2 per
    MCU, chroma 1x1, two quant-table slots, luma + chroma DHT slots,
    interleaved MCU scan with per-component differential DC — and decoded
    back with the full color decoder (Huffman entropy decode, 2x chroma
    upsample, libjpeg-style integer fixed-point YCbCr->RGB) inside
    Arrow-batched mapInPandas.  Constant DC-only data units survive
    quantize+IDCT bit-exactly and the color conversion is integer-exact,
    so the oracle replays the per-channel sums analytically: an MCU
    quadrant's (Y, Cb, Cr) come from cycled text bytes and each channel
    sum is 64 * the clamped fixed-point conversion.  A chroma predictor,
    upsample, or color-matrix bug cannot pass."""
    docs = M.with_binary_payload(load_table(spark, sf_dir, "documents"))
    return M.extract_features(docs, M._jpeg_color_row, M.COLOR_SCHEMA)


# Replays the interleaved-MCU geometry and the fixed-point color conversion
# in exact BIGINT arithmetic: quadrant q of MCU m carries Y = byte[q % n],
# the MCU's chroma = byte[m % n] / byte[(m+1) % n]; every conversion term is
# floor((k*c' + 32768)/65536) computed via the positive-bias trick so
# DuckDB's integer // matches numpy's arithmetic shift exactly.
ORA_MULTIMODAL_JPEG_COLOR = f"""
WITH g AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         {M.JPEG_MW_BASE} + octet_length(encode(text)) % {M.JPEG_MW_MOD} AS mw,
         {M.JPEG_MH_BASE} + octet_length(encode(text)) % {M.JPEG_MH_MOD} AS mh
  FROM documents
), q AS (
  SELECT doc_id, text, n, mw, mh, unnest(range(4 * mw * mh)) AS qi FROM g
), v AS (
  SELECT doc_id, mw, mh,
    CASE WHEN n = 0 THEN 0
         ELSE ascii(substring(text, CAST(qi % n AS INT) + 1, 1)) END AS yv,
    CASE WHEN n = 0 THEN 128
         ELSE ascii(substring(text, CAST((qi // 4) % n AS INT) + 1, 1)) END AS cbv,
    CASE WHEN n = 0 THEN 128
         ELSE ascii(substring(text, CAST(((qi // 4) + 1) % n AS INT) + 1, 1)) END AS crv
  FROM q
), rgb AS (
  SELECT doc_id, mw, mh,
    least(greatest(yv + (({M._FIX_R_CR} * (crv - 128) + 32768 + {M._FIX_BIAS}) // 65536 - 256), 0), 255) AS r,
    least(greatest(yv - (({M._FIX_G_CB} * (cbv - 128) + {M._FIX_G_CR} * (crv - 128) + 32768 + {M._FIX_BIAS}) // 65536 - 256), 0), 255) AS g,
    least(greatest(yv + (({M._FIX_B_CB} * (cbv - 128) + 32768 + {M._FIX_BIAS}) // 65536 - 256), 0), 255) AS b
  FROM v
)
SELECT doc_id,
  CAST(16 * MAX(mw) AS INT) AS width,
  CAST(16 * MAX(mh) AS INT) AS height,
  CAST(256 * MAX(mw) * MAX(mh) AS INT) AS n_pixels,
  CAST(64 * SUM(r) AS BIGINT) AS r_sum,
  CAST(64 * SUM(g) AS BIGINT) AS g_sum,
  CAST(64 * SUM(b) AS BIGINT) AS b_sum
FROM rgb
GROUP BY doc_id
"""


def q_multimodal_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE (SOF2) JPEG decode (round 15): every payload is packed
    into a genuine multi-scan progressive grayscale JPEG — spectral
    selection (one or two AC band scans) crossed with successive
    approximation (DC transmitted high-bits-first across two scans) —
    and decoded back with the full scan-general progressive decoder
    (per-scan Huffman state, DC first/refine integration, EOBn run
    bookkeeping with extension bits, inter-scan table redefinition walk)
    inside Arrow-batched mapInPandas, routed through decode_image's SOF
    peek.  Constant DC-only blocks reconstruct bit-exactly after the
    refinement scan, so decoded pixels equal the baseline encoding's and
    the oracle replays pixel_sum analytically — a successive-
    approximation shift, EOBRUN, or scan-ordering bug cannot pass.
    Reference has no counterpart (ships no image handling); SURVEY.md §2
    multimodal rows."""
    docs = M.with_binary_payload(load_table(spark, sf_dir, "documents"))
    return M.extract_features(docs, M._jpeg_progressive_row, M.PROG_SCHEMA)


# Same cycled-constant-block pixel law as ORA_MULTIMODAL_JPEG_STATS (the
# progressive stream reconstructs the identical raster); n_scans replays
# the encoder's spectral-selection split (two AC band scans for odd n).
ORA_MULTIMODAL_JPEG_PROGRESSIVE = f"""
WITH g AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         {M.JPEG_WB_BASE} + octet_length(encode(text)) % {M.JPEG_WB_MOD} AS bw,
         {M.JPEG_HB_BASE} + octet_length(encode(text)) % {M.JPEG_HB_MOD} AS bh
  FROM documents
), t AS (
  SELECT doc_id, text, n, 8 * bw AS w, 8 * bh AS h, bw * bh AS total FROM g
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(3 + n % 2 AS INT) AS n_scans,
       CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
            ELSE 64 * ((total // n) * {_TEXT_SUM}
                 + (CASE WHEN total % n = 0 THEN 0 ELSE {_PNG_PREFIX_SUM} END))
       END AS pixel_sum
FROM t
"""


def q_multimodal_jpeg_progressive_color(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PROGRESSIVE 4:2:0 COLOR JPEG decode (round 15): the web's dominant
    JPEG shape — SOF2 color with interleaved DC scans (successive
    approximation, per-component predictors) and non-interleaved
    per-component AC band scans over each component's own block raster —
    encoded for real and decoded with the scan-general progressive
    decoder, routed through decode_image.  Reconstruction runs the same
    integer fixed-point YCbCr->RGB as the baseline color path, so the
    oracle replays the per-channel sums plus the spectral-split scan
    count analytically.  Reference has no counterpart; SURVEY.md §2
    multimodal rows."""
    docs = M.with_binary_payload(load_table(spark, sf_dir, "documents"))
    return M.extract_features(docs, M._jpeg_progressive_color_row, M.PROG_COLOR_SCHEMA)


# Same per-channel replay as ORA_MULTIMODAL_JPEG_COLOR (the progressive
# stream reconstructs the identical RGB raster); n_scans = 2 interleaved DC
# scans + 3 AC scans (+1 when odd n splits Y's band).
ORA_MULTIMODAL_JPEG_PROGRESSIVE_COLOR = f"""
WITH g AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         {M.JPEG_MW_BASE} + octet_length(encode(text)) % {M.JPEG_MW_MOD} AS mw,
         {M.JPEG_MH_BASE} + octet_length(encode(text)) % {M.JPEG_MH_MOD} AS mh
  FROM documents
), q AS (
  SELECT doc_id, text, n, mw, mh, unnest(range(4 * mw * mh)) AS qi FROM g
), v AS (
  SELECT doc_id, n, mw, mh,
    CASE WHEN n = 0 THEN 0
         ELSE ascii(substring(text, CAST(qi % n AS INT) + 1, 1)) END AS yv,
    CASE WHEN n = 0 THEN 128
         ELSE ascii(substring(text, CAST((qi // 4) % n AS INT) + 1, 1)) END AS cbv,
    CASE WHEN n = 0 THEN 128
         ELSE ascii(substring(text, CAST(((qi // 4) + 1) % n AS INT) + 1, 1)) END AS crv
  FROM q
), rgb AS (
  SELECT doc_id, n, mw, mh,
    least(greatest(yv + (({M._FIX_R_CR} * (crv - 128) + 32768 + {M._FIX_BIAS}) // 65536 - 256), 0), 255) AS r,
    least(greatest(yv - (({M._FIX_G_CB} * (cbv - 128) + {M._FIX_G_CR} * (crv - 128) + 32768 + {M._FIX_BIAS}) // 65536 - 256), 0), 255) AS g,
    least(greatest(yv + (({M._FIX_B_CB} * (cbv - 128) + 32768 + {M._FIX_BIAS}) // 65536 - 256), 0), 255) AS b
  FROM v
)
SELECT doc_id,
  CAST(16 * MAX(mw) AS INT) AS width,
  CAST(16 * MAX(mh) AS INT) AS height,
  CAST(5 + MAX(n) % 2 AS INT) AS n_scans,
  CAST(64 * SUM(r) AS BIGINT) AS r_sum,
  CAST(64 * SUM(g) AS BIGINT) AS g_sum,
  CAST(64 * SUM(b) AS BIGINT) AS b_sum
FROM rgb
GROUP BY doc_id
"""


def q_multimodal_jpeg_dri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restart-marker COLOR JPEG decode (round 15): the 4:2:0 color
    round-trip of multimodal_jpeg_color, but the bitstream is segmented
    by DRI restart intervals (interval = 1 + n % 2) — byte-aligned RSTm
    markers every interval MCUs, modulo-8 marker sequencing, and
    per-interval resets of all three DC predictors (T.81 E.1.2/E.2.4),
    the error-resilience shape real-world camera/libjpeg JPEGs carry.
    The decoder verifies each RSTm index, so a reader that drifts by one
    MCU, misses an alignment pad, or forgets a predictor reset raises or
    mis-sums — two independent routes to the same numbers again.  Pixel
    values are restart-invariant by construction (predictor resets change
    the bitstream, not the pixels), so the oracle replays the same
    fixed-point color conversion plus the restart geometry
    analytically."""
    docs = M.with_binary_payload(load_table(spark, sf_dir, "documents"))
    return M.extract_features(docs, M._jpeg_dri_row, M.DRI_SCHEMA)


# Same interleaved-MCU + fixed-point replay as ORA_MULTIMODAL_JPEG_COLOR;
# adds the restart geometry: interval = 1 + n % 2, and (mcus - 1) //
# interval RSTm markers between the mcus MCUs.
ORA_MULTIMODAL_JPEG_DRI = f"""
WITH g AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         {M.JPEG_MW_BASE} + octet_length(encode(text)) % {M.JPEG_MW_MOD} AS mw,
         {M.JPEG_MH_BASE} + octet_length(encode(text)) % {M.JPEG_MH_MOD} AS mh
  FROM documents
), q AS (
  SELECT doc_id, text, n, mw, mh, unnest(range(4 * mw * mh)) AS qi FROM g
), v AS (
  SELECT doc_id, n, mw, mh,
    CASE WHEN n = 0 THEN 0
         ELSE ascii(substring(text, CAST(qi % n AS INT) + 1, 1)) END AS yv,
    CASE WHEN n = 0 THEN 128
         ELSE ascii(substring(text, CAST((qi // 4) % n AS INT) + 1, 1)) END AS cbv,
    CASE WHEN n = 0 THEN 128
         ELSE ascii(substring(text, CAST(((qi // 4) + 1) % n AS INT) + 1, 1)) END AS crv
  FROM q
), rgb AS (
  SELECT doc_id, n, mw, mh,
    least(greatest(yv + (({M._FIX_R_CR} * (crv - 128) + 32768 + {M._FIX_BIAS}) // 65536 - 256), 0), 255) AS r,
    least(greatest(yv - (({M._FIX_G_CB} * (cbv - 128) + {M._FIX_G_CR} * (crv - 128) + 32768 + {M._FIX_BIAS}) // 65536 - 256), 0), 255) AS g,
    least(greatest(yv + (({M._FIX_B_CB} * (cbv - 128) + 32768 + {M._FIX_BIAS}) // 65536 - 256), 0), 255) AS b
  FROM v
)
SELECT doc_id,
  CAST(16 * MAX(mw) AS INT) AS width,
  CAST(16 * MAX(mh) AS INT) AS height,
  CAST(1 + MAX(n) % 2 AS INT) AS restart_interval,
  CAST((MAX(mw) * MAX(mh) - 1) // (1 + MAX(n) % 2) AS INT) AS n_restarts,
  CAST(64 * SUM(r) AS BIGINT) AS r_sum,
  CAST(64 * SUM(g) AS BIGINT) AS g_sum,
  CAST(64 * SUM(b) AS BIGINT) AS b_sum
FROM rgb
GROUP BY doc_id
"""


def q_multimodal_jpeg_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NON-4:2:0 baseline COLOR JPEG decode (round 16): each payload is
    packed at one of the other layouts real encoders emit — 4:2:2
    (Y 2x1), 4:4:0 (Y 1x2), or 4:4:4 (all 1x1), cycled by
    (n // 3) % 3 — and decoded with the sampling-general color decoder
    (per-layout MCU geometry, data-unit raster order, per-axis chroma
    upsample) inside Arrow-batched mapInPandas.  The content law is the
    4:2:0 query's with nY = H1*V1 parametrized, so the oracle replays
    the per-channel sums in exact BIGINT arithmetic with the layout
    geometry inlined — a raster-order, upsample-axis, or MCU-geometry
    bug on any layout cannot pass.  Reference has no counterpart (ships
    no image handling); SURVEY.md §2 multimodal rows."""
    docs = M.with_binary_payload(load_table(spark, sf_dir, "documents"))
    return M.extract_features(docs, M._jpeg_sampling_row, M.SAMPLING_SCHEMA)


# Generalizes ORA_MULTIMODAL_JPEG_COLOR: the layout key (n // 3) % 3 picks
# (h1, v1) and the sampling label; nY = h1*v1 data units per MCU, so
# sub-block qi's Y byte is text[qi % n] and the MCU chroma pair comes from
# qi // nY — the same exact fixed-point replay, geometry parametrized.
ORA_MULTIMODAL_JPEG_SAMPLING = f"""
WITH g AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         {M.JPEG_MW_BASE} + octet_length(encode(text)) % {M.JPEG_MW_MOD} AS mw,
         {M.JPEG_MH_BASE} + octet_length(encode(text)) % {M.JPEG_MH_MOD} AS mh,
         CASE (octet_length(encode(text)) // 3) % 3
              WHEN 0 THEN 2 ELSE 1 END AS h1,
         CASE (octet_length(encode(text)) // 3) % 3
              WHEN 1 THEN 2 ELSE 1 END AS v1,
         CASE (octet_length(encode(text)) // 3) % 3
              WHEN 0 THEN '4:2:2' WHEN 1 THEN '4:4:0' ELSE '4:4:4'
              END AS sampling
  FROM documents
), q AS (
  SELECT doc_id, text, n, mw, mh, h1, v1, sampling, h1 * v1 AS ny,
         unnest(range(h1 * v1 * mw * mh)) AS qi
  FROM g
), v AS (
  SELECT doc_id, mw, mh, h1, v1, sampling, ny,
    CASE WHEN n = 0 THEN 0
         ELSE ascii(substring(text, CAST(qi % n AS INT) + 1, 1)) END AS yv,
    CASE WHEN n = 0 THEN 128
         ELSE ascii(substring(text, CAST((qi // ny) % n AS INT) + 1, 1)) END AS cbv,
    CASE WHEN n = 0 THEN 128
         ELSE ascii(substring(text, CAST(((qi // ny) + 1) % n AS INT) + 1, 1)) END AS crv
  FROM q
), rgb AS (
  SELECT doc_id, mw, mh, h1, v1, sampling,
    least(greatest(yv + (({M._FIX_R_CR} * (crv - 128) + 32768 + {M._FIX_BIAS}) // 65536 - 256), 0), 255) AS r,
    least(greatest(yv - (({M._FIX_G_CB} * (cbv - 128) + {M._FIX_G_CR} * (crv - 128) + 32768 + {M._FIX_BIAS}) // 65536 - 256), 0), 255) AS g,
    least(greatest(yv + (({M._FIX_B_CB} * (cbv - 128) + 32768 + {M._FIX_BIAS}) // 65536 - 256), 0), 255) AS b
  FROM v
)
SELECT doc_id,
  MAX(sampling) AS sampling,
  CAST(8 * MAX(h1) * MAX(mw) AS INT) AS width,
  CAST(8 * MAX(v1) * MAX(mh) AS INT) AS height,
  CAST(64 * MAX(h1) * MAX(v1) * MAX(mw) * MAX(mh) AS INT) AS n_pixels,
  CAST(64 * SUM(r) AS BIGINT) AS r_sum,
  CAST(64 * SUM(g) AS BIGINT) AS g_sum,
  CAST(64 * SUM(b) AS BIGINT) AS b_sum
FROM rgb
GROUP BY doc_id
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (one-to-many mapInPandas)."""
    return M.sample_frames(M.with_binary_payload(load_table(spark, sf_dir, "documents")))


# Replays the frame chop/stride/checksum in SQL (corpus text is ASCII, so
# ascii(char) == byte value; generated from the same FRAME_* constants).
_CHUNK = f"substring(text, CAST(i * {M.FRAME_SIZE} + 1 AS INT), {M.FRAME_SIZE})"
ORA_MULTIMODAL_FRAMES = f"""
WITH f AS (
  SELECT doc_id, text,
         greatest((length(text) + {M.FRAME_SIZE - 1}) // {M.FRAME_SIZE}, 1) AS n_frames
  FROM documents
), frames AS (
  SELECT doc_id, text, unnest(range(0, n_frames, {M.FRAME_STRIDE})) AS i FROM f
)
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       CAST(length({_CHUNK}) AS INT) AS frame_bytes,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, length({_CHUNK}) + 1),
             p -> CAST(ascii(substring({_CHUNK}, CAST(p AS INT), 1)) AS BIGINT))),
         (a, x) -> a + x
       ) AS frame_checksum
FROM frames
"""


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode (round 7): every payload is packed into a genuine
    mono 16-bit PCM WAV and decoded back with the pure-Python RIFF parser
    — magic check, word-aligned chunk walk, fmt validation, sample unpack
    — inside Arrow-batched mapInPandas.  Emits decoded waveform stats; the
    oracle replays them analytically (sample i is (byte_i - 128) * 256, so
    amp_sum = 256 * sum|ascii - 128|) without parsing RIFF."""
    docs = M.with_binary_payload(load_table(spark, sf_dir, "documents"))
    return M.extract_features(docs, M._wav_row, M.AUDIO_SCHEMA)


# Corpus text is ASCII (tests/test_corpus_assumptions.py), so ascii(char)
# == payload byte value; sample amplitudes are 256 * |ascii - 128|.
_AMP_LIST = (
    "list_transform(range(1, length(text) + 1),"
    " p -> CAST(abs(ascii(substring(text, CAST(p AS INT), 1)) - 128) AS BIGINT))"
)
ORA_MULTIMODAL_AUDIO = f"""
SELECT doc_id,
       CAST(length(text) AS INT) AS n_samples,
       CAST({M.WAV_RATE_BASE} + (length(text) % {M.WAV_RATE_MOD}) * 1000 AS INT)
         AS sample_rate,
       256 * list_reduce(list_prepend(CAST(0 AS BIGINT), {_AMP_LIST}),
                         (a, x) -> a + x) AS amp_sum,
       CASE WHEN length(text) = 0 THEN 0
            ELSE CAST(256 * list_aggregate({_AMP_LIST}, 'max') AS INT)
       END AS peak
FROM documents
"""


def q_multimodal_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal feature FUSION: run the real BMP image decoder and the
    real WAV audio decoder over each doc's payload (two Arrow-batched
    mapInPandas passes), join their features with the text length, and
    fold the five integers into one portable fusion fingerprint — the
    join-modalities step every multimodal training pipeline has between
    per-modality feature extraction and example assembly.

    Shape: the two decoder passes are embarrassingly parallel; the fusion
    is two equi-joins on doc_id (AQE-planned) and a narrow fold.  The
    fingerprint uses the engine-wide Rabin-Karp fold mod the 42-bit prime
    — every folded term is < 2^42 (sums reduced mod P first), so the
    accumulator stays inside int64 in BOTH engines (DuckDB errors on
    BIGINT overflow; Spark would wrap silently)."""
    from ..operators.dedup import SHINGLE_B, SHINGLE_P

    docs = load_table(spark, sf_dir, "documents")
    img = M.extract_features(
        M.with_binary_payload(docs), M._bmp_row, M.FEATURE_SCHEMA
    ).select(
        "doc_id", "width", "height", "pixel_sum"
    )
    aud = M.extract_features(
        M.with_binary_payload(docs), M._wav_row, M.AUDIO_SCHEMA
    ).select(
        "doc_id", "amp_sum"
    )
    text = docs.select("doc_id", F.length("text").cast("bigint").alias("n_chars"))
    feats = F.array(
        F.col("width").cast("long"),
        F.col("height").cast("long"),
        F.col("pixel_sum") % SHINGLE_P,
        F.col("amp_sum") % SHINGLE_P,
        F.col("n_chars"),
    )
    fused_key = F.aggregate(
        feats,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * SHINGLE_B + x) % SHINGLE_P,
    )
    return (
        img.join(aud, "doc_id")
        .join(text, "doc_id")
        .select(
            "doc_id",
            "width",
            "height",
            "pixel_sum",
            "amp_sum",
            "n_chars",
            fused_key.alias("fused_key"),
        )
    )


def _ora_multimodal_fusion() -> str:
    from ..operators.dedup import SHINGLE_B, SHINGLE_P

    fold = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[CAST(width AS BIGINT), CAST(height AS BIGINT), pixel_sum % {SHINGLE_P}, "
        f"amp_sum % {SHINGLE_P}, n_chars]), "
        f"(acc, x) -> (acc * {SHINGLE_B} + x) % {SHINGLE_P})"
    )
    return f"""
WITH img AS ({ORA_MULTIMODAL_FEATURES}),
aud AS ({ORA_MULTIMODAL_AUDIO})
SELECT d.doc_id, i.width, i.height, i.pixel_sum, a.amp_sum,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       {fold} AS fused_key
FROM documents d
JOIN img i ON i.doc_id = d.doc_id
JOIN aud a ON a.doc_id = d.doc_id
"""


ORA_MULTIMODAL_FUSION = _ora_multimodal_fusion()


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size payload normalization (resize stand-in), mapInPandas."""
    return M.resize_payloads(M.with_binary_payload(load_table(spark, sf_dir, "documents")))


# NUL padding contributes 0 to the code-point checksum, so the oracle sums
# the first RESIZE_CHARS characters; DuckDB ascii() returns the full Unicode
# code point (like Python ord), making this exact for any text
ORA_MULTIMODAL_RESIZE = f"""
SELECT doc_id,
       CAST(length(text) AS INT) AS orig_chars,
       {M.RESIZE_CHARS} AS resized_chars,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, least(length(text), {M.RESIZE_CHARS}) + 1),
             p -> CAST(ascii(substring(text, CAST(p AS INT), 1)) AS BIGINT))),
         (a, x) -> a + x
       ) AS resized_checksum
FROM documents
"""


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster vector stats; min/max of deterministic fold norms (no
    order-sensitive double sums)."""
    e = load_table(spark, sf_dir, "embeddings")
    with_norm = e.withColumn("vnorm", S.norm("embedding"))
    return with_norm.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.min("vnorm").alias("min_norm"),
        F.max("vnorm").alias("max_norm"),
    )


ORA_EMBEDDING_STATS = f"""
SELECT label, COUNT(*) AS n_vectors,
       MIN({_NORM.format(a='embedding')}) AS min_norm,
       MAX({_NORM.format(a='embedding')}) AS max_norm
FROM embeddings GROUP BY label
"""


def q_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TR.ngram_decontaminate(D.planted_corpus(spark, sf_dir))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TR.stratified_sample(load_table(spark, sf_dir, "documents"))


def q_mixture_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-capped mixture rebalance: every source sampled down to the
    same exact doc budget (B div n_sources), md5-ranked so the sample is
    reproducible and exactly budget-sized (operators/training.py)."""
    return TR.mixture_cap_sample(load_table(spark, sf_dir, "documents"))


def q_mixture_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source repetition plan toward a uniform token budget (capped
    4x upsampling; the counterpart of mixture_cap_sample's downsampling —
    operators/training.py)."""
    return TR.mixture_repeat_plan(load_table(spark, sf_dir, "documents"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TR.pack_sequences(load_table(spark, sf_dir, "documents"))


def q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle pretraining transform —
    operators/training.py:fim_transform."""
    return TR.fim_transform(load_table(spark, sf_dir, "documents"))


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TR.length_histogram(load_table(spark, sf_dir, "documents"))


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TR.quantize_embeddings(load_table(spark, sf_dir, "embeddings"))


QUERIES: dict[str, QuerySpec] = {
    "ngram_decontaminate": QuerySpec(
        q_ngram_decontaminate,
        TR.ORA_NGRAM_DECONTAMINATE.format(corpus_cte=D.ORA_CORPUS + ","),
        "benchmark 8-gram decontamination (eval-leakage scrub)",
    ),
    "stratified_sample": QuerySpec(
        q_stratified_sample,
        TR.ORA_STRATIFIED_SAMPLE,
        "deterministic md5-keyed per-language sampling",
    ),
    "mixture_cap_sample": QuerySpec(
        q_mixture_cap_sample,
        TR.ORA_MIXTURE_CAP_SAMPLE,
        "budget-capped mixture rebalance (exact per-source doc budget)",
    ),
    "mixture_repeat_plan": QuerySpec(
        q_mixture_repeat_plan,
        TR.ORA_MIXTURE_REPEAT_PLAN,
        "per-source repetition plan toward a uniform token budget (4x cap)",
    ),
    "pack_sequences": QuerySpec(
        q_pack_sequences,
        TR.ORA_PACK_SEQUENCES,
        "concat-and-chunk sequence packing per source shard",
    ),
    "fim_transform": QuerySpec(
        q_fim_transform,
        TR.ORA_FIM_TRANSFORM,
        "fill-in-the-middle PSM re-serialization, hash-deterministic splits",
    ),
    "length_histogram": QuerySpec(
        q_length_histogram, TR.ORA_LENGTH_HISTOGRAM, "doc-length histogram"
    ),
    "quantize_embeddings": QuerySpec(
        q_quantize_embeddings,
        TR.ORA_QUANTIZE_EMBEDDINGS,
        "per-vector int8 quantization (max-abs scale)",
    ),
    "dedup_exact": QuerySpec(q_dedup_exact, ORA_DEDUP_EXACT, "exact dedup via sha256+groupBy"),
    "dedup_minhash_lsh": QuerySpec(
        q_dedup_minhash, ORA_DEDUP_MINHASH, "MinHash->LSH bands->Jaccard verify"
    ),
    "dedup_minhash_ngram": QuerySpec(
        q_dedup_minhash_ngram,
        ORA_DEDUP_MINHASH_NGRAM,
        "n-gram (char-shingle) Jaccard near-dup via MinHash-LSH",
    ),
    "dedup_jaccard_prefix": QuerySpec(
        q_dedup_jaccard_prefix,
        ORA_DEDUP_JACCARD_PREFIX,
        "exact-verify Jaccard self-join via capped prefix index (full recall under the posting cap)",
    ),
    "dedup_containment": QuerySpec(
        q_dedup_containment,
        ORA_DEDUP_CONTAINMENT,
        "directed shingle-containment self-join (asymmetric prefix filter, milli-unit scores)",
    ),
    "dedup_passages": QuerySpec(
        q_dedup_passages,
        ORA_DEDUP_PASSAGES,
        "global passage-level dedup with document reassembly (keep-first by doc, pos)",
    ),
    "dedup_keep_containment": QuerySpec(
        q_dedup_keep_containment,
        ORA_DEDUP_KEEP_CONTAINMENT,
        "kept corpus after dropping contained docs (mutual pairs keep the lower id)",
    ),
    "dedup_components": QuerySpec(
        q_dedup_components,
        ORA_DEDUP_COMPONENTS,
        "connected components over near-dup pairs (min-label fixpoint)",
    ),
    "recursive_cte_closure": QuerySpec(
        q_recursive_cte_closure,
        ORA_RECURSIVE_CTE_CLOSURE,
        "Spark 4 WITH RECURSIVE transitive closure of the dup pair graph (depth-guarded)",
    ),
    "dedup_keep_corpus": QuerySpec(
        q_dedup_keep_corpus,
        ORA_DEDUP_KEEP_CORPUS,
        "kept corpus after component dedup (anti-join non-canonical members)",
    ),
    "dedup_incremental": QuerySpec(
        q_dedup_incremental,
        ORA_DEDUP_INCREMENTAL,
        "incremental delta-vs-base near-dup (daily-ingest shape)",
    ),
    "dedup_incremental_indexed": QuerySpec(
        q_dedup_incremental_indexed,
        ORA_DEDUP_INCREMENTAL,
        "incremental near-dup vs a materialized parquet base index",
    ),
    "dedup_containment_incremental": QuerySpec(
        q_dedup_containment_incremental,
        ORA_DEDUP_CONTAINMENT_INCREMENTAL,
        "incremental directed containment of an ingest batch vs the "
        "staged containment index (is-this-doc-already-contained)",
    ),
    "dedup_editdistance": QuerySpec(
        q_dedup_editdistance,
        ORA_DEDUP_EDITDISTANCE,
        "prefix+suffix-blocked Levenshtein near-dup (fuzzy tier)",
    ),
    "substring_dup_spans": QuerySpec(
        q_substring_dup_spans,
        D.ORA_SUBSTRING_DUP_SPANS.format(
            corpus_cte=D.ORA_CORPUS + ",",
            shingle_b=D.SHINGLE_B,
            shingle_p=D.SHINGLE_P,
        ),
        "repeated-passage spans via strided window hashing (suffix-array style)",
    ),
    "dedup_triangles": QuerySpec(
        q_dedup_triangles,
        ORA_DEDUP_TRIANGLES,
        "per-node triangle counts on the near-dup graph (cluster vs hub)",
    ),
    "dedup_pagerank": QuerySpec(
        q_dedup_pagerank,
        ORA_DEDUP_PAGERANK,
        "fixed-point PageRank over the near-dup graph (boilerplate hubs)",
    ),
    "dedup_simhash": QuerySpec(q_dedup_simhash, _ora_simhash(), "SimHash fingerprints"),
    "dedup_simhash_hamming": QuerySpec(
        q_dedup_simhash_hamming,
        ORA_SIMHASH_HAMMING,
        "hamming<=1 SimHash pairs via bit-flip probe join",
    ),
    "dedup_embedding": QuerySpec(
        q_dedup_embedding, ORA_DEDUP_EMBEDDING, "embedding-cosine near-dup"
    ),
    "sim_pq_topk": QuerySpec(
        q_sim_pq_topk,
        ORA_SIM_PQ_TOPK,
        "PQ asymmetric-distance ANN scan (integer table lookups)",
    ),
    "sim_bruteforce_topk": QuerySpec(
        q_sim_bruteforce, ORA_SIM_BRUTEFORCE, "brute-force cosine top-k"
    ),
    "sim_ivf_topk": QuerySpec(
        q_sim_ivf,
        _ora_sim_ivf(),
        "IVF-bucketed ANN (deterministic centroids, full value oracle)",
    ),
    "sim_lsh_topk": QuerySpec(
        q_sim_lsh, _ora_sim_lsh(), "random-hyperplane LSH ANN (full value oracle)"
    ),
    "dedup_agreement_report": QuerySpec(
        q_dedup_agreement_report,
        ORA_DEDUP_AGREEMENT,
        "cross-tier dedup blocking agreement audit (MinHash vs prefix index)",
    ),
    "regex_pretokenize": QuerySpec(
        q_regex_pretokenize,
        T.ORA_REGEX_PRETOKENIZE,
        "regex pre-tokenizer counts (alpha/digit/punct class split)",
    ),
    "sim_range_search": QuerySpec(
        q_sim_range_search,
        _ora_sim_range(),
        "all-pairs cosine range search (LSH buckets + exact verify)",
    ),
    "sim_recall_report": QuerySpec(
        q_sim_recall_report,
        _ora_sim_recall(),
        "recall@k of LSH/IVF vs exact brute-force, integer-exact",
    ),
    "sim_incremental_topk": QuerySpec(
        q_sim_incremental_topk,
        _ora_sim_incremental(),
        "delta-vs-base ANN against a staged cluster-partitioned IVF index (DPP probe)",
    ),
    "sim_incremental_range": QuerySpec(
        q_sim_incremental_range,
        _ora_sim_incremental_range(),
        "embedding near-dup ingest gate: k=1 staged-IVF probe + cosine>=0.99 flag",
    ),
    "sim_index_merge": QuerySpec(
        q_sim_index_merge,
        ORA_SIM_INDEX_MERGE,
        "vector-index MERGE: gate the batch, assign admitted vectors to "
        "their nearest centroid, append to the cluster-partitioned table",
    ),
    "sim_centroid_drift": QuerySpec(
        q_sim_centroid_drift,
        ORA_SIM_CENTROID_DRIFT,
        "IVF rebuild monitor: per-cluster centroid drift of the merged "
        "table vs the staged quantizer (n_added, cosine, threshold)",
    ),
    "sim_index_rebuild": QuerySpec(
        q_sim_index_rebuild,
        ORA_SIM_INDEX_REBUILD,
        "IVF re-train executed over the merged base ∪ extension table "
        "(growth rule on the merged count); per-cluster reconvergence "
        "report — drifted clusters' cosine returns to ~1.0",
    ),
    "sim_rebuild_recall": QuerySpec(
        q_sim_rebuild_recall,
        ORA_SIM_REBUILD_RECALL,
        "rebuild acceptance gate: rebuilt-index dup recall vs exact "
        "brute force per day-2 arm — replay 1.0, control flags nothing",
    ),
    "sim_topk_day2": QuerySpec(
        q_sim_topk_day2,
        ORA_SIM_TOPK_DAY2,
        "day-2 vector probe vs the MERGED base+extension IVF index: "
        "copies of day-1 admitted vectors flagged; two-day replay oracle",
    ),
    "ann_pq_codes": QuerySpec(
        q_ann_pq_codes,
        S.ORA_PQ_CODES,
        "product-quantization encoder (4-bit codes + exact distortion)",
    ),
    "text_quality": QuerySpec(q_text_quality, ORA_TEXT_QUALITY, "quality scoring"),
    "epoch_shuffle": QuerySpec(
        q_epoch_shuffle,
        ORA_EPOCH_SHUFFLE,
        "reproducible epoch shuffle: md5-ordered (shard, position)",
    ),
    "boilerplate_strip": QuerySpec(
        q_boilerplate_strip,
        ORA_BOILERPLATE_STRIP,
        "per-source majority-prefix boilerplate detect + strip accounting",
    ),
    "retrieval_rrf_fusion": QuerySpec(
        q_retrieval_rrf_fusion,
        ORA_RETRIEVAL_RRF,
        "hybrid retrieval: integer RRF fusion of two lexical rankers",
    ),
    "quality_logit_score": QuerySpec(
        q_quality_logit_score,
        ORA_QUALITY_LOGIT,
        "fixed-weight linear quality classifier (integer-exact logit)",
    ),
    "quality_linear_fit": QuerySpec(
        q_quality_linear_fit,
        TR.ORA_QUALITY_LINEAR_FIT,
        "in-engine closed-form ridge fit per language (sufficient stats + exact Cramer)",
    ),
    "ingest_admission": QuerySpec(
        q_ingest_admission,
        ORA_INGEST_ADMISSION,
        "end-to-end ingest-admission funnel: exact-hash -> containment -> "
        "near-dup -> quality gates",
    ),
    "ingest_index_merge": QuerySpec(
        q_ingest_index_merge,
        ORA_INGEST_INDEX_MERGE,
        "MERGE-shaped maintenance: append admitted docs' rows to the "
        "hash/band indexes, read-back-verified counts",
    ),
    "curation_admission_e2e": QuerySpec(
        q_curation_admission_e2e,
        _ora_curation_admission_e2e(),
        "full ingest story: 4-gate admission -> admitted join the corpus "
        "-> curation funnel per-language report",
    ),
    "ingest_admission_day2": QuerySpec(
        q_ingest_admission_day2,
        _ora_day2_funnel(),
        "day-2 batch gated against the MERGED base+extension indexes: "
        "copies/near-copies of day-1 admissions rejected; two-day replay oracle",
    ),
    "ingest_index_compaction": QuerySpec(
        q_ingest_index_compaction,
        ORA_INGEST_INDEX_COMPACTION,
        "band-index compaction: re-apply bucket caps over a deliberately "
        "over-appended index, per-band report from read-back files",
    ),
    "quality_fit_drift": QuerySpec(
        q_quality_fit_drift,
        ORA_QUALITY_FIT_DRIFT,
        "fit-drift monitor: fresh-batch ridge fit vs the staged base fit, per language",
    ),
    "quantile_sketch_merge": QuerySpec(
        q_quantile_sketch_merge,
        ORA_QUANTILE_SKETCH,
        "mergeable per-source histogram quantile sketch (p50/p90/p99 edges)",
    ),
    "tfidf_top_terms": QuerySpec(
        q_tfidf_top_terms,
        ORA_TFIDF_TOP_TERMS,
        "per-doc tf-idf top terms (rational idf, deterministic ties)",
    ),
    "bm25_term_scores": QuerySpec(
        q_bm25_term_scores,
        ORA_BM25_TERM_SCORES,
        "BM25 retrieval kernel: per-(doc, term) contributions for a query doc",
    ),
    "countmin_sketch": QuerySpec(
        q_countmin_sketch,
        ORA_COUNTMIN_SKETCH,
        "Count-Min frequency sketch, cell-exact (mergeable map-side)",
    ),
    "hll_registers": QuerySpec(
        q_hll_registers,
        ORA_HLL_REGISTERS,
        "HyperLogLog register table, register-exact (portable approx-distinct)",
    ),
    "hll_window_merge": QuerySpec(
        q_hll_window_merge,
        ORA_HLL_WINDOW_MERGE,
        "trailing-7-day uniques via RANGE-window HLL register merge",
    ),
    "length_drift_report": QuerySpec(
        q_length_drift_report,
        ORA_LENGTH_DRIFT,
        "per-source length-distribution drift (chi-square cell table)",
    ),
    "text_tokens": QuerySpec(q_text_tokens, ORA_TEXT_TOKENS, "token counting"),
    "text_langid": QuerySpec(q_text_langid, _ora_langid(), "language-ID heuristic"),
    "pii_redact": QuerySpec(
        q_pii_redact, ORA_PII_REDACT, "PII masking + stable pseudonymous id"
    ),
    "pii_redact_v2": QuerySpec(
        q_pii_redact_v2,
        ORA_PII_REDACT_V2,
        "typed PII masking: emails, IPv4s, phones, id runs + pseudonym",
    ),
    "heavy_hitters": QuerySpec(
        q_heavy_hitters, ORA_HEAVY_HITTERS, "vocabulary heavy hitters (bounded-shuffle top-k)"
    ),
    "text_fingerprint": QuerySpec(
        q_text_fingerprint, ORA_TEXT_FINGERPRINT, "rolling-hash fingerprint"
    ),
    "text_repetition": QuerySpec(
        q_text_repetition,
        T.ORA_REPETITION,
        "repetition-ratio quality signal (top-word frequency)",
    ),
    "multimodal_meta": QuerySpec(
        q_multimodal_meta, ORA_MULTIMODAL_META, "binary payload + metadata struct"
    ),
    "multimodal_features": QuerySpec(
        q_multimodal_features, ORA_MULTIMODAL_FEATURES, "mapInPandas feature extraction"
    ),
    "multimodal_png_stats": QuerySpec(
        q_multimodal_png_stats,
        ORA_MULTIMODAL_PNG_STATS,
        "real PNG round-trip (zlib IDAT + 5-filter reversal) via mapInPandas",
    ),
    "multimodal_jpeg_stats": QuerySpec(
        q_multimodal_jpeg_stats,
        ORA_MULTIMODAL_JPEG_STATS,
        "real baseline JPEG round-trip (Huffman + dequant + IDCT) via mapInPandas",
    ),
    "multimodal_jpeg_color": QuerySpec(
        q_multimodal_jpeg_color,
        ORA_MULTIMODAL_JPEG_COLOR,
        "real 4:2:0 color JPEG round-trip (interleaved MCUs + fixed-point "
        "YCbCr->RGB) via mapInPandas",
    ),
    "multimodal_jpeg_progressive": QuerySpec(
        q_multimodal_jpeg_progressive,
        ORA_MULTIMODAL_JPEG_PROGRESSIVE,
        "progressive SOF2 JPEG round-trip (spectral selection + "
        "successive approximation, EOBn runs) via mapInPandas",
    ),
    "multimodal_jpeg_progressive_color": QuerySpec(
        q_multimodal_jpeg_progressive_color,
        ORA_MULTIMODAL_JPEG_PROGRESSIVE_COLOR,
        "progressive 4:2:0 color JPEG round-trip (interleaved DC scans + "
        "per-component AC bands) via mapInPandas",
    ),
    "multimodal_jpeg_dri": QuerySpec(
        q_multimodal_jpeg_dri,
        ORA_MULTIMODAL_JPEG_DRI,
        "color JPEG round-trip through DRI restart intervals (RSTm "
        "sequencing + per-interval predictor resets) via mapInPandas",
    ),
    "multimodal_jpeg_sampling": QuerySpec(
        q_multimodal_jpeg_sampling,
        ORA_MULTIMODAL_JPEG_SAMPLING,
        "non-4:2:0 baseline color JPEG round-trips (4:2:2 / 4:4:0 / "
        "4:4:4 cycled per doc) via mapInPandas",
    ),
    "multimodal_frames": QuerySpec(
        q_multimodal_frames,
        ORA_MULTIMODAL_FRAMES,
        "frame sampling (one-to-many mapInPandas)",
    ),
    "multimodal_fusion": QuerySpec(
        q_multimodal_fusion,
        ORA_MULTIMODAL_FUSION,
        "cross-modal feature fusion (image + audio + text -> fingerprint)",
    ),
    "multimodal_resize": QuerySpec(
        q_multimodal_resize,
        ORA_MULTIMODAL_RESIZE,
        "fixed-size payload normalization (resize stand-in)",
    ),
    "multimodal_audio": QuerySpec(
        q_multimodal_audio,
        ORA_MULTIMODAL_AUDIO,
        "real WAV/PCM round-trip decode stats (mapInPandas)",
    ),
    "embedding_stats": QuerySpec(q_embedding_stats, ORA_EMBEDDING_STATS, "per-cluster norms"),
}
