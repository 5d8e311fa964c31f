"""Driver-contract queries: each operator exposed as (spark, sf_dir) →
DataFrame, with an ANSI-SQL twin runnable by DuckDB on the same parquet
tables (see repo:__spark_entry__.py). Every computed column is aliased
identically on both sides; doubles are rounded on both sides so the driver's
value-hash comparison is float-stable.

The identity queries derive deterministic signature shapes from the TPC-H-ish
tables (the oracle database has no transcripts view), exercising the same
engine code paths the transcript pipeline uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from identity_matching_spark.functions.normalize import clean_email, clean_name
from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.blocking import star_edges
from identity_matching_spark.operators.cc import connected_components
from identity_matching_spark.operators.cluster import _primary_value, reduce_people
from identity_matching_spark.operators.stats import (
    cooccurrence_popular_keys,
    frequency_stats,
)

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return reg


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# q01 — normalization projection (P1/P3: clean name/email)
# ---------------------------------------------------------------------------


@_q(
    "q01_signature_normalize",
    """
    SELECT c_custkey AS id,
           lower(trim(regexp_replace(
             CASE WHEN c_custkey % 2 = 1 THEN upper(c_name) || '   x' ELSE ' ' || c_name END,
             '\\s+', ' ', 'g'))) AS name_c,
           lower(trim(regexp_replace(c_name || '@' || c_mktsegment || '.org', '\\s+', ' ', 'g'))) AS email_c
    FROM customer
    """,
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    messy_name = F.when(
        F.col("c_custkey") % 2 == 1, F.concat(F.upper("c_name"), F.lit("   x"))
    ).otherwise(F.concat(F.lit(" "), F.col("c_name")))
    email = F.concat(F.col("c_name"), F.lit("@"), F.col("c_mktsegment"), F.lit(".org"))
    return c.select(
        F.col("c_custkey").alias("id"),
        clean_name(messy_name).alias("name_c"),
        clean_email(email).alias("email_c"),
    )


# ---------------------------------------------------------------------------
# q02 — blacklist email predicates (F1–F7)
# ---------------------------------------------------------------------------

_Q02_CASES = [
    "bad@email",  # single-label domain
    "root@1.2.3.4",  # IP domain
    "a@b@c.com",  # multiple @
    "admin@example.com",  # ignored domain
    "x@server.localdomain",  # ignored TLD
    "noreply@github.com",  # blacklisted email
    "not a mail",  # no @
]


@_q(
    "q02_email_filter",
    f"""
    WITH emails AS (
      SELECT c_custkey AS id,
             CASE c_custkey % 10
               WHEN 0 THEN 'bad@email'
               WHEN 1 THEN 'root@1.2.3.4'
               WHEN 2 THEN 'a@b@c.com'
               WHEN 3 THEN 'admin@example.com'
               WHEN 4 THEN 'x@server.localdomain'
               WHEN 5 THEN 'noreply@github.com'
               WHEN 6 THEN 'not a mail'
               ELSE lower(c_name) || '@corp' || (c_custkey % 3) || '.org'
             END AS email
      FROM customer)
    SELECT id, email,
           (email NOT LIKE '%@%'
            OR email IN ('noreply@github.com')
            OR len(string_split(email, '@')) > 2
            OR string_split(email, '@')[2] IN ('example.com')
            OR list_extract(string_split(string_split(email, '@')[2], '.'), len(string_split(string_split(email, '@')[2], '.'))) IN ('localdomain')
            OR NOT contains(string_split(email, '@')[2], '.')
            OR regexp_matches(string_split(email, '@')[2], '\\d+\\.\\d+\\.\\d+\\.\\d+$')
           ) AS ignored
    FROM emails
    """,
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    cases = F.col("c_custkey") % 10
    mapping = {i: v for i, v in enumerate(_Q02_CASES)}
    col = F.when(cases == 0, F.lit(mapping[0]))
    for i in range(1, 7):
        col = col.when(cases == i, F.lit(mapping[i]))
    col = col.otherwise(
        F.concat(
            F.lower("c_name"), F.lit("@corp"), (F.col("c_custkey") % 3).cast("string"), F.lit(".org")
        )
    )
    bl = Blacklist.default()
    df = c.select(F.col("c_custkey").alias("id"), col.alias("email"))
    return df.withColumn("ignored", bl.is_ignored_email(F.col("email")))


# ---------------------------------------------------------------------------
# q03 — frequency stats (A2: recent/total split)
# ---------------------------------------------------------------------------


@_q(
    "q03_frequency_stats",
    """
    SELECT event_type AS value,
           count(*)::BIGINT AS total,
           count(*) FILTER (WHERE ts > TIMESTAMP '2024-06-01 00:00:00')::BIGINT AS recent
    FROM events GROUP BY event_type
    """,
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    e = _t(spark, sf_dir, "events").withColumnRenamed("event_type", "value_src")
    out = frequency_stats(
        e.select(F.col("value_src").alias("v"), "ts"), "v", dt.datetime(2024, 6, 1)
    )
    return out.select("value", "total", "recent")


# ---------------------------------------------------------------------------
# q04 — co-occurrence popularity (A3)
# ---------------------------------------------------------------------------


@_q(
    "q04_cooccurrence_popular",
    """
    SELECT l_suppkey::BIGINT AS key
    FROM lineitem GROUP BY l_suppkey
    HAVING count(DISTINCT l_partkey) >= 25
    """,
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return cooccurrence_popular_keys(li, "l_suppkey", "l_partkey", 25).select(
        F.col("key").cast("long").alias("key")
    )


# ---------------------------------------------------------------------------
# q05 — star-edge blocking (J1 shape)
# ---------------------------------------------------------------------------


@_q(
    "q05_star_edges",
    """
    WITH b AS (SELECT o_custkey, o_orderkey,
                      min(o_orderkey) OVER (PARTITION BY o_custkey) AS hub
               FROM orders)
    SELECT DISTINCT hub::BIGINT AS src, o_orderkey::BIGINT AS dst FROM b WHERE hub <> o_orderkey
    """,
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return star_edges(o, ["o_custkey"], id_col="o_orderkey")


# ---------------------------------------------------------------------------
# q06 — connected components vs recursive-CTE oracle
# ---------------------------------------------------------------------------

_Q06_EDGES_SQL = """
      SELECT c_custkey::BIGINT AS src,
             (1000000 + (c_custkey // 30) * 3 + (c_custkey % 30) // 10)::BIGINT AS dst
      FROM customer
      UNION ALL
      SELECT c_custkey::BIGINT AS src,
             (2000000 + (c_custkey // 30) * 2 + (c_custkey % 30) // 15)::BIGINT AS dst
      FROM customer
"""


@_q(
    "q06_connected_components",
    f"""
    WITH RECURSIVE edges AS ({_Q06_EDGES_SQL}),
    nodes AS (SELECT DISTINCT src AS n FROM edges UNION SELECT DISTINCT dst FROM edges),
    sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    reach(n, l) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT s.dst, r.l FROM reach r JOIN sym s ON s.src = r.n WHERE r.l < s.dst
    )
    SELECT n::BIGINT AS id, min(l)::BIGINT AS component FROM reach GROUP BY n
    """,
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    e1 = c.select(
        F.col("c_custkey").cast("long").alias("src"),
        (
            1000000
            + (F.col("c_custkey") / 30).cast("long") * 3
            + ((F.col("c_custkey") % 30) / 10).cast("long")
        ).alias("dst"),
    )
    e2 = c.select(
        F.col("c_custkey").cast("long").alias("src"),
        (
            2000000
            + (F.col("c_custkey") / 30).cast("long") * 2
            + ((F.col("c_custkey") % 30) / 15).cast("long")
        ).alias("dst"),
    )
    return connected_components(e1.union(e2)).select("id", "component")


# ---------------------------------------------------------------------------
# q07 — flagship: full identity clustering over derived signatures
# ---------------------------------------------------------------------------


@_q(
    "q07_identity_clusters",
    """
    SELECT c_custkey::BIGINT AS id,
           (min(c_custkey) OVER (PARTITION BY c_custkey // 10))::BIGINT AS component
    FROM customer
    """,
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signatures: 10 customers share one latent entity via overlapping
    email (mod 3) and name (mod 2) blocks; the engine must recover exactly
    the base-10 partition. The oracle states the analytic truth; the Spark
    side runs the real blocking + CC + cap machinery."""
    c = _t(spark, sf_dir, "customer")
    base = (F.col("c_custkey") / 10).cast("long")
    persons = c.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.concat(F.lit("n"), base.cast("string"), F.lit("-"), (F.col("c_custkey") % 2).cast("string")).alias("name_key"),
        F.concat(F.lit("e"), base.cast("string"), F.lit("-"), (F.col("c_custkey") % 3).cast("string"), F.lit("@corp.io")).alias("email"),
    )
    out = reduce_people(persons, Blacklist.default(), max_identities=20)
    return out.select("id", "component")


# ---------------------------------------------------------------------------
# q08 — primary value selection (A6 argmax with recent/total switch)
# ---------------------------------------------------------------------------


@_q(
    "q08_primary_values",
    """
    WITH freqs AS (
      SELECT event_type AS value,
             count(*)::BIGINT AS total,
             count(*) FILTER (WHERE ts > TIMESTAMP '2024-06-01 00:00:00')::BIGINT AS recent
      FROM events GROUP BY event_type),
    vals AS (SELECT DISTINCT user_id::BIGINT AS id, event_type AS value FROM events),
    j AS (SELECT v.id, v.value, f.recent, f.total,
                 sum(f.recent) OVER (PARTITION BY v.id) >= 1000 AS use_recent
          FROM vals v JOIN freqs f ON v.value = f.value),
    r AS (SELECT id, value,
                 row_number() OVER (
                   PARTITION BY id
                   ORDER BY CASE WHEN use_recent THEN recent ELSE total END DESC, value ASC
                 ) AS rn
          FROM j)
    SELECT id, value AS primary_value FROM r WHERE rn = 1
    """,
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    e = _t(spark, sf_dir, "events")
    freqs = frequency_stats(
        e.select(F.col("event_type").alias("v"), "ts"), "v", dt.datetime(2024, 6, 1)
    )
    vals = e.select(F.col("user_id").cast("long").alias("id"), F.col("event_type").alias("value"))
    return _primary_value(vals, freqs, min_recent_count=1000).select(
        "id", F.col("primary").alias("primary_value")
    )


# ---------------------------------------------------------------------------
# q10+ — training-data pipeline operators over documents/embeddings
# ---------------------------------------------------------------------------


@_q(
    "q10_exact_dedup",
    """
    WITH keyed AS (
      SELECT doc_id, md5(array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ')) AS k
      FROM documents)
    SELECT k AS dedup_key, count(*)::BIGINT AS n_docs, min(doc_id)::BIGINT AS keep_id
    FROM keyed GROUP BY k
    """,
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    key = F.md5(F.array_join(F.slice(F.split(F.col("text"), " "), 1, 6), " "))
    return (
        d.select("doc_id", key.alias("dedup_key"))
        .groupBy("dedup_key")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


@_q(
    "q11_minhash_signatures",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 200),
    sh AS (
      SELECT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS g
      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks)),
    h AS (
      SELECT doc_id,
             ('0x' || substr(md5('0|' || g), 1, 15))::BIGINT AS h0,
             ('0x' || substr(md5('1|' || g), 1, 15))::BIGINT AS h1,
             ('0x' || substr(md5('2|' || g), 1, 15))::BIGINT AS h2,
             ('0x' || substr(md5('3|' || g), 1, 15))::BIGINT AS h3
      FROM sh)
    SELECT doc_id::BIGINT AS doc_id, min(h0) AS mh0, min(h1) AS mh1,
           min(h2) AS mh2, min(h3) AS mh3
    FROM h GROUP BY doc_id
    """,
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash with md5-derived universal hashes — deliberately expressed as
    native Spark expressions so DuckDB can mirror it bit-for-bit. (The
    production MinHash UDF in functions/hashing.py is the fast path; this
    query pins the banding algebra against an independent engine.)"""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("w")).where(F.size("w") >= 3)
    sh = toks.select(
        "doc_id", "w", F.explode(F.sequence(F.lit(1), F.size("w") - 2)).alias("i")
    ).select("doc_id", F.array_join(F.slice(F.col("w"), F.col("i"), 3), " ").alias("g"))

    def mh(j):
        return F.min(
            F.conv(F.substring(F.md5(F.concat(F.lit(f"{j}|"), F.col("g"))), 1, 15), 16, 10).cast(
                "long"
            )
        ).alias(f"mh{j}")

    return sh.groupBy("doc_id").agg(mh(0), mh(1), mh(2), mh(3))


@_q(
    "q12_ngram_jaccard_pairs",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 120),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS g
      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks)),
    sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
           round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
    WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.015
    """,
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("w")).where(F.size("w") >= 3)
    sh = (
        toks.select("doc_id", "w", F.explode(F.sequence(F.lit(1), F.size("w") - 2)).alias("i"))
        .select("doc_id", F.array_join(F.slice(F.col("w"), F.col("i"), 3), " ").alias("g"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "g")
    b = sh.select(F.col("doc_id").alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
        .withColumn("j", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .where(F.col("j") >= 0.015)
    )
    return out.select("id_a", "id_b", F.round("j", 4).alias("jaccard"))


@_q(
    "q13_simhash",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id < 300),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th FROM toks),
    bits AS (
      SELECT doc_id,
             {bit_sums}
      FROM h GROUP BY doc_id)
    SELECT doc_id::BIGINT AS doc_id, {bit_expr} AS simhash16 FROM bits
    """.format(
        bit_sums=", ".join(
            f"sum(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END)::BIGINT AS b{b}"
            for b in range(16)
        ),
        bit_expr=" + ".join(f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16)),
    ),
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")).distinct()
    th = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    h = toks.select("doc_id", th.alias("th"))
    sums = [
        F.sum(F.when(F.shiftright(F.col("th"), b).bitwiseAND(1) == 1, 1).otherwise(-1)).alias(
            f"b{b}"
        )
        for b in range(16)
    ]
    bits = h.groupBy("doc_id").agg(*sums)
    sim = None
    for b in range(16):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return bits.select("doc_id", sim.cast("long").alias("simhash16"))


@_q(
    "q14_topk_cosine",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    sims AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.embedding, e.embedding), 4) AS sim
      FROM q, embeddings e WHERE q.vec_id <> e.vec_id),
    r AS (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
          FROM sims)
    SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
           sim, rank::BIGINT AS rank
    FROM r WHERE rank <= 5
    """,
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from identity_matching_spark.functions.similarity import cosine_similarity

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    sims = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_similarity(F.col("qemb"), F.col("emb")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select(
            F.col("query_id").cast("long"), F.col("neighbor_id").cast("long"), "sim", "rank"
        )
    )


@_q(
    "q15_embedding_neardup",
    """
    WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200)
    SELECT a.vec_id::BIGINT AS id_a, b.vec_id::BIGINT AS id_b,
           round(list_cosine_similarity(a.embedding, b.embedding), 4) AS sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.3
    """,
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE ONLY — brute all-pairs cosine near-dup, the exactness twin of
    q30. Pipelines must use the bucketed scale path
    (``operators.similarity_search.ivf_neardup_pairs``, q30): this O(n²)
    shape exists solely so an independent engine can verify it; nothing in
    the package calls it (enforced contract, VERDICT r4 #7)."""
    from identity_matching_spark.functions.similarity import cosine_similarity

    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("emb").alias("ea"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("emb").alias("eb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            F.col("id_a").cast("long"),
            F.col("id_b").cast("long"),
            F.round(cosine_similarity(F.col("ea"), F.col("eb")), 4).alias("sim"),
        )
        .where(F.col("sim") >= 0.3)
    )


_STOPWORDS = {
    "en": ["the", "a", "of", "and"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "la", "et", "les"],
    "es": ["el", "la", "y", "los"],
}


@_q(
    "q16_lang_id",
    """
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
    scores AS (
      SELECT doc_id, lang,
             count(*) FILTER (WHERE tok IN ('the','a','of','and'))::BIGINT AS s_en,
             count(*) FILTER (WHERE tok IN ('der','die','und','das'))::BIGINT AS s_de,
             count(*) FILTER (WHERE tok IN ('le','la','et','les'))::BIGINT AS s_fr,
             count(*) FILTER (WHERE tok IN ('el','la','y','los'))::BIGINT AS s_es
      FROM toks GROUP BY doc_id, lang)
    SELECT doc_id::BIGINT AS doc_id, lang,
           CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unk'
                WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
                WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
                WHEN s_fr >= s_es THEN 'fr'
                ELSE 'es' END AS lang_pred
    FROM scores
    """,
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    aggs = [
        F.count(F.when(F.col("tok").isin(ws), 1)).alias(f"s_{lang}")
        for lang, ws in _STOPWORDS.items()
    ]
    s = toks.groupBy("doc_id", "lang").agg(*aggs)
    pred = (
        F.when(F.greatest("s_en", "s_de", "s_fr", "s_es") == 0, "unk")
        .when(F.col("s_en") >= F.greatest("s_de", "s_fr", "s_es"), "en")
        .when(F.col("s_de") >= F.greatest("s_fr", "s_es"), "de")
        .when(F.col("s_fr") >= F.col("s_es"), "fr")
        .otherwise("es")
    )
    return s.select(F.col("doc_id").cast("long"), "lang", pred.alias("lang_pred"))


@_q(
    "q17_quality_score",
    """
    WITH t AS (
      SELECT doc_id,
             len(string_split(text, ' '))::BIGINT AS n_tokens,
             len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct,
             length(text)::BIGINT AS n_chars
      FROM documents)
    SELECT doc_id::BIGINT AS doc_id, n_tokens, n_distinct,
           round(0.5 * least(1.0, n_tokens / 80.0) + 0.5 * (n_distinct * 1.0 / n_tokens), 4) AS quality
    FROM t
    """,
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    t = d.select(
        F.col("doc_id").cast("long"),
        F.size(w).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct"),
    )
    q = 0.5 * F.least(F.lit(1.0), F.col("n_tokens") / 80.0) + 0.5 * (
        F.col("n_distinct") / F.col("n_tokens")
    )
    return t.select("doc_id", "n_tokens", "n_distinct", F.round(q, 4).alias("quality"))


@_q(
    "q18_token_count",
    """
    SELECT doc_id::BIGINT AS doc_id,
           len(string_split(text, ' '))::BIGINT AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS bpeish_tokens
    FROM documents
    """,
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("long"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0)))
        .cast("long")
        .alias("bpeish_tokens"),
    )


@_q(
    "q19_doc_fingerprint",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, md5(array_to_string(list_slice(w, i, i + 2), ' ')) AS h
      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks)),
    ranked AS (
      SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn FROM sh)
    SELECT doc_id::BIGINT AS doc_id, array_to_string(list(h ORDER BY h), '') AS fingerprint
    FROM ranked WHERE rn <= 4 GROUP BY doc_id
    """,
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("w")).where(F.size("w") >= 3)
    sh = (
        toks.select("doc_id", "w", F.explode(F.sequence(F.lit(1), F.size("w") - 2)).alias("i"))
        .select("doc_id", F.md5(F.array_join(F.slice(F.col("w"), F.col("i"), 3), " ")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("h")
    return (
        sh.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 4)
        .groupBy("doc_id")
        .agg(F.array_join(F.array_sort(F.collect_list("h")), "").alias("fingerprint"))
        .select(F.col("doc_id").cast("long"), "fingerprint")
    )


# ---------------------------------------------------------------------------
# q24+ — similarity search / dedup / multimodal operators
# ---------------------------------------------------------------------------


@_q(
    "q24_ivf_ann_fullprobe",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10 AND vec_id < 18),
    sims AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.embedding, e.embedding), 4) AS sim
      FROM q, embeddings e WHERE q.vec_id <> e.vec_id),
    r AS (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
          FROM sims)
    SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
           sim, rank::BIGINT AS rank
    FROM r WHERE rank <= 4
    """,
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with full probing (n_probe = 2^bits) is provably exact, so
    the brute-force SQL is a valid oracle for the whole bucketed path
    (quantizer assignment, probe expansion, bucket join, ranking)."""
    from identity_matching_spark.operators.similarity_search import ivf_topk

    e = _t(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("id"), "embedding")
    q = e.where((F.col("id") >= 10) & (F.col("id") < 18))
    out = ivf_topk(e, q, k=4, bits=4, n_probe=16, dim=64)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "sim",
        F.col("rank").cast("long"),
    )


@_q(
    "q30_ivf_embedding_neardup",
    """
    WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200)
    SELECT a.vec_id::BIGINT AS id_a, b.vec_id::BIGINT AS id_b,
           round(list_cosine_similarity(a.embedding, b.embedding), 4) AS sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.3
    """,
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF self-join near-dup at full probe (n_probe = 2^bits) is provably
    exact, so the brute-force all-pairs SQL is a valid oracle for the whole
    bucketed path (assignment, Hamming-ball expansion, cell join, verify).
    Production runs the same operator with small n_probe — the scale path
    that replaces q15's all-pairs shape."""
    from identity_matching_spark.operators.similarity_search import ivf_neardup_pairs

    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    out = ivf_neardup_pairs(e, threshold=0.3, bits=4, n_probe=16, dim=64)
    return out.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"), "sim")


@_q("q25_minhash_dedup")
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production MinHash-LSH near-dup clustering (Arrow UDF — rows-only)."""
    from identity_matching_spark.operators.dedup import minhash_dedup

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return minhash_dedup(d, jaccard_threshold=0.5).orderBy("id")


@_q("q26_media_features")
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payloads → mapInPandas feature kernel
    (decode stubbed deterministically — no codec libs in this container)."""
    from identity_matching_spark.operators.multimodal import (
        extract_image_features,
        synth_media,
    )

    media = synth_media(spark, n=96)
    feats = extract_image_features(media, dim=32)
    return feats.select(
        "media_id", F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 4).alias("feat_sum")
    ).orderBy("media_id")


@_q("q27_video_frame_sample")
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    from identity_matching_spark.operators.multimodal import sample_video_frames, synth_media

    media = synth_media(spark, n=96)
    frames = sample_video_frames(media, n_frames=4)
    return frames.select(
        "media_id", "frame_idx",
        F.round(F.aggregate("frame", F.lit(0.0), lambda a, x: a + x), 4).alias("frame_sum"),
    ).orderBy("media_id", "frame_idx")


@_q("q31_audio_features")
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio rows through the mapInPandas feature kernel (decode stubbed —
    no audio codecs in this container; Spark plumbing is real)."""
    from identity_matching_spark.operators.multimodal import extract_audio_features, synth_media

    media = synth_media(spark, n=96)
    feats = extract_audio_features(media, n_mfcc=16)
    return feats.select(
        "media_id",
        "sample_rate",
        F.round("duration_s", 4).alias("duration_s"),
        F.round(F.aggregate("mfcc", F.lit(0.0), lambda a, x: a + x), 4).alias("mfcc_sum"),
    ).orderBy("media_id")


@_q(
    "q23_jaro_winkler",
    """
    WITH persons AS (
      SELECT c_custkey AS id,
             CASE c_custkey % 4
               WHEN 0 THEN lower(c_name)
               WHEN 1 THEN substr(lower(c_name), 1, 3) || substr(lower(c_name), 5, 1)
                           || substr(lower(c_name), 4, 1) || substr(lower(c_name), 6)
               WHEN 2 THEN substr(lower(c_name), 1, 4) || substr(lower(c_name), 6)
               ELSE reverse(lower(c_name))
             END AS name
      FROM customer WHERE c_custkey < 200),
    cands AS (
      SELECT a.id AS src, b.id AS dst, a.name AS n1, b.name AS n2
      FROM persons a JOIN persons b ON b.id > a.id AND b.id - a.id <= 3)
    SELECT src::BIGINT AS src, dst::BIGINT AS dst,
           round(jaro_winkler_similarity(n1, n2), 4) AS jw,
           round(CASE WHEN greatest(length(n1), length(n2)) = 0 THEN 1.0
                      ELSE 1.0 - levenshtein(n1, n2) * 1.0 / greatest(length(n1), length(n2))
                 END, 4) AS lev
    FROM cands
    """,
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched vectorized Jaro-Winkler + Levenshtein scorer over blocked
    candidate pairs, oracled against DuckDB's independent C++ implementation
    (semantics pinned in functions/similarity.py: integer half-transpositions,
    0.7 boost threshold — identical on ASCII input)."""
    from identity_matching_spark.operators.scoring import score_pairs

    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 200)
    base = F.lower(F.col("c_name"))
    name = (
        F.when(F.col("c_custkey") % 4 == 0, base)
        .when(
            F.col("c_custkey") % 4 == 1,
            F.concat(
                F.expr("substring(lower(c_name), 1, 3)"),
                F.expr("substring(lower(c_name), 5, 1)"),
                F.expr("substring(lower(c_name), 4, 1)"),
                F.expr("substring(lower(c_name), 6)"),
            ),
        )
        .when(
            F.col("c_custkey") % 4 == 2,
            F.concat(F.expr("substring(lower(c_name), 1, 4)"), F.expr("substring(lower(c_name), 6)")),
        )
        .otherwise(F.reverse(base))
    )
    persons = c.select(F.col("c_custkey").cast("long").alias("id"), name.alias("name"))
    a = persons.select(F.col("id").alias("src"))
    b = persons.select(F.col("id").alias("dst"))
    cands = a.join(b, (F.col("dst") > F.col("src")) & (F.col("dst") - F.col("src") <= 3))
    scored = score_pairs(persons, cands, jw_threshold=0.0)
    return scored.select(
        "src", "dst", F.round("jw", 4).alias("jw"), F.round("lev", 4).alias("lev")
    )


# ---------------------------------------------------------------------------
# q09 — popular-name repo qualification (P9, the skew-breaking key)
# ---------------------------------------------------------------------------


@_q(
    "q09_popular_name_qualification",
    """
    WITH sig AS (
      SELECT c_custkey AS id,
             'chan' || (c_custkey % 4) AS repo,
             CASE WHEN c_custkey % 5 = 0 THEN 'alice'
                  WHEN c_custkey % 5 = 1 THEN 'bob'
                  ELSE 'distinct-name-' || c_custkey END AS name
      FROM customer)
    SELECT id, repo, name,
           (name IN ('alice', 'bob')) AS popular,
           CASE WHEN name IN ('alice', 'bob')
                THEN '{' || name || ', ' || repo || '}'
                ELSE name END AS name_key
    FROM sig
    """,
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from identity_matching_spark.functions.normalize import name_key as nk

    c = _t(spark, sf_dir, "customer")
    mod = F.col("c_custkey") % 5
    name = (
        F.when(mod == 0, F.lit("alice"))
        .when(mod == 1, F.lit("bob"))
        .otherwise(F.concat(F.lit("distinct-name-"), F.col("c_custkey").cast("string")))
    )
    df = c.select(
        F.col("c_custkey").alias("id"),
        F.concat(F.lit("chan"), (F.col("c_custkey") % 4).cast("string")).alias("repo"),
        name.alias("name"),
    )
    bl = Blacklist.default()
    popular = bl.is_popular_name(F.col("name"))
    return df.select(
        "id", "repo", "name", popular.alias("popular"),
        nk(F.col("name"), F.col("repo"), popular).alias("name_key"),
    )


# ---------------------------------------------------------------------------
# q28/q29 — event-time aggregations (tumbling windows, sessionization)
# ---------------------------------------------------------------------------


@_q(
    "q28_event_tumbling_windows",
    """
    SELECT event_type,
           date_trunc('day', ts)::TIMESTAMP AS win_start,
           count(*)::BIGINT AS n_events,
           round(avg(value), 4) AS avg_value
    FROM events GROUP BY event_type, date_trunc('day', ts)
    """,
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = F.window("ts", "1 day")
    return (
        e.groupBy("event_type", w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.avg("value"), 4).alias("avg_value"))
        .select("event_type", F.col("w.start").alias("win_start"), "n_events", "avg_value")
    )


@_q(
    "q29_sessionization",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sessions AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered)
    SELECT user_id::BIGINT AS user_id, session_no::BIGINT AS session_no,
           min(ts) AS session_start, count(*)::BIGINT AS n_events
    FROM sessions GROUP BY user_id, session_no
    """,
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via lag + running sum — the batch twin of
    the streaming session_window in streaming/incremental.py."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    is_new = F.when(
        lag_ts.isNull() | ((F.col("ts") - lag_ts) > F.expr("INTERVAL 30 MINUTE")), 1
    ).otherwise(F.lit(0))
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = e.withColumn("is_new", is_new).withColumn("session_no", F.sum("is_new").over(run))
    return sess.groupBy(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_no").cast("long").alias("session_no"),
    ).agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events"))


# ---------------------------------------------------------------------------
# q32 — external-match cache merge (S10; external/cache.go:153-259)
# ---------------------------------------------------------------------------


@_q(
    "q32_external_cache_merge",
    """
    WITH existing AS (
      SELECT lower(c_name) || '@corp.org' AS email,
             'u' || c_custkey AS "user",
             (c_custkey % 2 = 0) AS matched
      FROM customer WHERE c_custkey % 3 = 0),
    updates AS (
      SELECT lower(c_name) || '@corp.org' AS email,
             'v' || c_custkey AS "user",
             (c_custkey % 4 = 0) AS matched
      FROM customer WHERE c_custkey % 2 = 0)
    SELECT e.email, e."user", e.matched FROM existing e
    WHERE e.email NOT IN (SELECT email FROM updates)
    UNION ALL
    SELECT email, "user", matched FROM updates
    """,
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The external-match cache merge relation ``merge_match_cache``
    (updates win per email, untouched entries survive — external/cache.go
    DumpOnDisk), driven on two deterministic cache states derived from the
    customer table."""
    from identity_matching_spark.sources.io import merge_match_cache

    c = _t(spark, sf_dir, "customer")
    email = F.concat(F.lower("c_name"), F.lit("@corp.org")).alias("email")
    existing = c.where(F.col("c_custkey") % 3 == 0).select(
        email,
        F.concat(F.lit("u"), F.col("c_custkey").cast("string")).alias("user"),
        (F.col("c_custkey") % 2 == 0).alias("matched"),
    )
    updates = c.where(F.col("c_custkey") % 2 == 0).select(
        email,
        F.concat(F.lit("v"), F.col("c_custkey").cast("string")).alias("user"),
        (F.col("c_custkey") % 4 == 0).alias("matched"),
    )
    return merge_match_cache(existing, updates)
