"""Span algebra + annotation-pipeline queries (SURVEY.md sections 2A/2B).

The first family is pure Spark SQL (whitespace tokenization with char
offsets — the reference's wsprovide fast path, CuratorHandler.java:
1054-1127). The second family drives the REAL pandas-UDF annotator
pipeline (plans/provide.py) and checks it against a DuckDB oracle that
re-states the annotator rules in SQL — the engine twin of the
reference's verifyRecords oracle pattern (CuratorClient.java:660-853).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from curatorhadoopinterface_spark.operators import query
from curatorhadoopinterface_spark.session import ensure_min_partitions, load_table

# shared oracle CTE: whitespace tokens with half-open char offsets
_WS_TOKS_CTE = """
    toks AS (
        SELECT doc_id,
               UNNEST(STRING_SPLIT(text, ' ')) AS token,
               CAST(GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) - 1 AS INTEGER)
                   AS token_idx
        FROM documents),
    offs AS (
        SELECT doc_id, token_idx, token,
               CAST(COALESCE(SUM(LENGTH(token) + 1) OVER (
                   PARTITION BY doc_id ORDER BY token_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER)
                   AS token_start
        FROM toks)
"""


def _ws_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization with char offsets, pure Spark SQL (A25):
    no UDF, whole-stage codegen, one shuffle for the offset window."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("token_idx", "token"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("token_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return tok.select(
        "doc_id",
        "token_idx",
        "token",
        F.coalesce(F.sum(F.length("token") + 1).over(w), F.lit(0))
        .cast("int")
        .alias("token_start"),
    )


@query(
    "ws_tokenize",
    oracle=f"""
    WITH {_WS_TOKS_CTE}
    SELECT doc_id, token_idx, token, token_start,
           token_start + LENGTH(token) AS token_end
    FROM offs
    """,
)
def ws_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _ws_tokens(spark, sf_dir)
    return t.withColumn("token_end", (F.col("token_start") + F.length("token")).cast("int"))


@query(
    "wsprovide_sentences",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               STRING_SPLIT(text, '. ') AS sents,
               ARRAY_TO_STRING(STRING_SPLIT(text, '. '), ' ') AS raw
        FROM documents),
    s AS (
        SELECT doc_id,
               UNNEST(sents) AS sent,
               GENERATE_SUBSCRIPTS(sents, 1) AS i,
               raw
        FROM base),
    soffs AS (
        SELECT doc_id,
               COALESCE(SUM(LENGTH(sent) + 1) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS sent_start
        FROM s),
    t AS (
        SELECT doc_id,
               UNNEST(STRING_SPLIT(raw, ' ')) AS token,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(raw, ' '), 1) AS i
        FROM base),
    toffs AS (
        SELECT doc_id,
               COALESCE(SUM(LENGTH(token) + 1) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS tok_start
        FROM t)
    SELECT b.doc_id,
           LEN(b.sents) AS n_sentences,
           LEN(STRING_SPLIT(b.raw, ' ')) AS n_tokens,
           LENGTH(b.raw) AS raw_len,
           (SELECT SUM(sent_start) FROM soffs WHERE soffs.doc_id = b.doc_id)
               AS sum_sent_starts,
           (SELECT SUM(tok_start) FROM toffs WHERE toffs.doc_id = b.doc_id)
               AS sum_tok_starts
    FROM base b
    """,
)
def wsprovide_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wsprovide with CALLER-SUPPLIED sentence splits (curator.thrift:
    73-86; CuratorHandler.java:1054-1127): documents arrive pre-split
    (here: on '. ', standing in for an upstream segmenter), and the
    record's sentences/tokens views are built from the GIVEN
    segmentation, never re-derived. The profile columns read the span
    layout back out of the constructed ``label_views`` payload itself —
    so the oracle value-checks the actual Record construction (offset
    accumulation, join-with-space raw text), not a parallel computation.

    Scale shape: io.ws_records builds every span array with one
    higher-order ``aggregate`` per view — map-only, zero shuffle, zero
    Python. The whole query's only exchange is the final noop/collect."""
    from curatorhadoopinterface_spark.io import ws_records

    d = ensure_min_partitions(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", F.split("text", "\\. ").alias("sentences"))
    rec = ws_records(d)
    sent_labels = F.col("label_views")["sentences"]["labels"]
    tok_labels = F.col("label_views")["tokens"]["labels"]

    def sum_starts(labels):
        return F.expr(
            "aggregate({0}, cast(0 as bigint), (a, l) -> a + l.start)".format(labels)
        )

    return rec.select(
        "doc_id",
        F.size(sent_labels).cast("bigint").alias("n_sentences"),
        F.size(tok_labels).cast("bigint").alias("n_tokens"),
        F.length("raw_text").cast("bigint").alias("raw_len"),
        sum_starts("label_views['sentences'].labels").alias("sum_sent_starts"),
        sum_starts("label_views['tokens'].labels").alias("sum_tok_starts"),
    )


@query(
    "span_substring",
    oracle=f"""
    WITH {_WS_TOKS_CTE}
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           COUNT(*) FILTER (WHERE SUBSTR(d.text, token_start + 1, LENGTH(token)) = token)
               AS n_exact
    FROM offs JOIN documents d USING (doc_id)
    GROUP BY doc_id
    """,
)
def span_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    # span -> substring extraction semantics (CuratorClient.java:1051-1053:
    # rawText.substring(span.start, span.ending)); n_exact == n_tokens is
    # the well-formedness invariant.
    d = load_table(spark, sf_dir, "documents")
    t = _ws_tokens(spark, sf_dir)
    joined = t.join(d.select("doc_id", "text"), "doc_id")
    exact = F.expr("substring(text, token_start + 1, length(token)) = token")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_if(exact).alias("n_exact"),
    )


@query(
    "span_interval_join",
    oracle=f"""
    WITH {_WS_TOKS_CTE},
    sents AS (
        SELECT doc_id, CAST(token_idx // 10 AS INTEGER) AS sent_id,
               MIN(token_start) AS sent_start,
               MAX(token_start + LENGTH(token)) AS sent_end
        FROM offs GROUP BY doc_id, CAST(token_idx // 10 AS INTEGER)),
    tok_spans AS (
        SELECT doc_id, token_idx, token_start,
               token_start + LENGTH(token) AS token_end
        FROM offs)
    SELECT t.doc_id, s.sent_id, COUNT(*) AS n_tokens_in_sentence
    FROM tok_spans t JOIN sents s
      ON t.doc_id = s.doc_id
     AND t.token_start >= s.sent_start AND t.token_end <= s.sent_end
    GROUP BY t.doc_id, s.sent_id
    """,
)
def span_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # span-containment join (token within sentence) — the NER-span-in-
    # sentence-span pattern (IllinoisNERHandler.findSpan:309-329). Equi
    # key doc_id bounds candidates; containment is the residual, so this
    # is a hash join at any scale, not a cartesian.
    t = _ws_tokens(spark, sf_dir).withColumn(
        "token_end", F.col("token_start") + F.length("token")
    )
    sents = (
        t.withColumn("sent_id", (F.col("token_idx") / 10).cast("int"))
        .groupBy("doc_id", "sent_id")
        .agg(F.min("token_start").alias("sent_start"), F.max("token_end").alias("sent_end"))
    )
    tok = t.select("doc_id", "token_idx", "token_start", "token_end")
    return (
        tok.alias("t")
        .join(
            sents.alias("s"),
            (F.col("t.doc_id") == F.col("s.doc_id"))
            & (F.col("t.token_start") >= F.col("s.sent_start"))
            & (F.col("t.token_end") <= F.col("s.sent_end")),
        )
        .groupBy(F.col("t.doc_id").alias("doc_id"), F.col("s.sent_id").alias("sent_id"))
        .agg(F.count(F.lit(1)).alias("n_tokens_in_sentence"))
    )


# ---------------------------------------------------------------------------
# UDF-pipeline queries: run plans/provide.py for real, oracle re-states the
# annotator rules in SQL.
# ---------------------------------------------------------------------------

# the POS-lite rule chain (annotators/light.pos_tag_word) as SQL
_POS_CASE = """
    CASE
      WHEN NOT REGEXP_MATCHES(token, '^[A-Za-z0-9]') THEN 'PUNCT'
      WHEN REGEXP_MATCHES(token, '^[0-9]+$') THEN 'CD'
      WHEN LOWER(token) IN ('the','a','an') THEN 'DT'
      WHEN LOWER(token) IN ('and','or','but') THEN 'CC'
      WHEN LOWER(token) IN ('of','in','on','at','by','for','with','from','to') THEN 'IN'
      WHEN LOWER(token) IN ('is','are','was','were','be','been','am',
                            'has','have','had','do','does','did') THEN 'VB'
      WHEN LENGTH(token) > 4 AND LOWER(token) LIKE '%ing' THEN 'VBG'
      WHEN LENGTH(token) > 3 AND LOWER(token) LIKE '%ed' THEN 'VBD'
      WHEN LENGTH(token) > 3 AND LOWER(token) LIKE '%ly' THEN 'RB'
      WHEN REGEXP_MATCHES(SUBSTR(token, 1, 1), '[A-Z]') THEN 'NNP'
      WHEN LENGTH(token) > 3 AND LOWER(token) LIKE '%s'
           AND NOT LOWER(token) LIKE '%ss' THEN 'NNS'
      ELSE 'NN'
    END
"""

# regex tokens of the UDF tokenizer, as a DuckDB CTE (RE2-compatible)
_RE_TOKS_CTE = """
    retoks AS (
        SELECT doc_id,
               UNNEST(REGEXP_EXTRACT_ALL(text, '\\.\\.\\.|--|[A-Za-z0-9]+(-[A-Za-z0-9]+)*|''[A-Za-z]+|[^A-Za-z0-9\\s]')) AS token
        FROM documents)
"""


def _annotated_corpus(spark: SparkSession, sf_dir: str, target) -> DataFrame:
    from curatorhadoopinterface_spark.plans.provide import provide

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("raw_text")
    )
    return provide(d, target)


@query(
    "annotate_token_count",
    oracle=f"""
    WITH {_RE_TOKS_CTE}
    SELECT doc_id, COUNT(*) AS n_tokens
    FROM retoks GROUP BY doc_id
    """,
)
def annotate_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # end-to-end check of the TOKEN annotation stage (mapInArrow) against the
    # same tokenization expressed in SQL.
    ann = _annotated_corpus(spark, sf_dir, "TOKEN")
    return ann.select(
        "doc_id", F.size(F.col("label_views")["tokens"]["labels"]).alias("n_tokens")
    )


@query(
    "annotate_pos_histogram",
    oracle=f"""
    WITH {_RE_TOKS_CTE}
    SELECT {_POS_CASE} AS pos_tag, COUNT(*) AS n
    FROM retoks GROUP BY 1
    """,
)
def annotate_pos_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the TOKEN->POS UDF chain, checked value-for-value: explode the pos
    # Labeling the pipeline wrote and histogram the tags.
    ann = _annotated_corpus(spark, sf_dir, "POS")
    spans = ann.select(
        F.explode(F.col("label_views")["pos"]["labels"]).alias("s")
    )
    return spans.groupBy(F.col("s.label").alias("pos_tag")).agg(F.count(F.lit(1)).alias("n"))


@query(
    "annotate_ner_spans",
    oracle=f"""
    WITH {_WS_TOKS_CTE},
    matched AS (
        SELECT doc_id, token_idx, token_start,
               token_start + LENGTH(token) AS token_end,
               CASE LOWER(token)
                 WHEN 'spark' THEN 'TECH' WHEN 'hadoop' THEN 'TECH'
                 WHEN 'hash' THEN 'TECH' WHEN 'vector' THEN 'TECH'
                 WHEN 'customer' THEN 'ROLE' WHEN 'supplier' THEN 'ROLE'
                 WHEN 'lorem' THEN 'MISC' WHEN 'ipsum' THEN 'MISC'
               END AS label
        FROM offs),
    islands AS (
        SELECT *, token_idx - ROW_NUMBER() OVER (
                   PARTITION BY doc_id, label ORDER BY token_idx) AS grp
        FROM matched WHERE label IS NOT NULL)
    SELECT doc_id, label,
           MIN(token_start) AS span_start,
           MAX(token_end)   AS span_end
    FROM islands GROUP BY doc_id, label, grp
    """,
)
def annotate_ner_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gazetteer NER via the UDF pipeline, including the BIO->span merge of
    # adjacent same-type tokens (IllinoisNERHandler.java:150-189); the
    # oracle reproduces the merge with a gaps-and-islands window. (On the
    # single-spaced fixture text, regex tokens == whitespace tokens, so
    # char adjacency == index adjacency.)
    ann = _annotated_corpus(spark, sf_dir, "NER")
    spans = ann.select(
        "doc_id", F.explode(F.col("label_views")["ner"]["labels"]).alias("s")
    )
    return spans.select(
        "doc_id",
        F.col("s.label").alias("label"),
        F.col("s.start").alias("span_start"),
        F.col("s.ending").alias("span_end"),
    )


@query(
    "annotate_pipeline",
    oracle=f"""
    WITH {_RE_TOKS_CTE},
    per_tok AS (SELECT doc_id, COUNT(*) AS n_tokens FROM retoks GROUP BY doc_id),
    {_WS_TOKS_CTE},
    matched AS (
        SELECT doc_id, token_idx,
               CASE LOWER(token)
                 WHEN 'spark' THEN 'TECH' WHEN 'hadoop' THEN 'TECH'
                 WHEN 'hash' THEN 'TECH' WHEN 'vector' THEN 'TECH'
                 WHEN 'customer' THEN 'ROLE' WHEN 'supplier' THEN 'ROLE'
                 WHEN 'lorem' THEN 'MISC' WHEN 'ipsum' THEN 'MISC'
               END AS label
        FROM offs),
    islands AS (
        SELECT doc_id, label,
               token_idx - ROW_NUMBER() OVER (
                   PARTITION BY doc_id, label ORDER BY token_idx) AS grp
        FROM matched WHERE label IS NOT NULL),
    ner AS (
        SELECT doc_id, COUNT(*) AS n_ner
        FROM (SELECT DISTINCT doc_id, label, grp FROM islands)
        GROUP BY doc_id)
    SELECT p.doc_id, p.n_tokens, p.n_tokens AS n_pos,
           COALESCE(n.n_ner, 0) AS n_ner
    FROM per_tok p LEFT JOIN ner n ON n.doc_id = p.doc_id
    """,
)
def annotate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship annotation pipeline end-to-end: TOKEN -> POS -> NER
    through the real pandas-UDF annotators (plans/provide.py walks the
    dependency DAG, AnnotationMode.java:186-238), summarized per document.

    This is the engine twin of the reference's whole reason to exist —
    JobHandler's chained MapReduce jobs (JobHandler.java:149-194)
    collapsed into ONE Catalyst plan with a single Arrow UDF stage (the
    modes fuse, the A10 stage-fusion analogue), measured in bench.py as
    annotation throughput. The oracle recomputes every count from the
    annotator rules in SQL."""
    ann = _annotated_corpus(spark, sf_dir, ["POS", "NER"])
    return ann.select(
        "doc_id",
        F.size(F.col("label_views")["tokens"]["labels"]).alias("n_tokens"),
        F.size(F.col("label_views")["pos"]["labels"]).alias("n_pos"),
        F.size(F.col("label_views")["ner"]["labels"]).alias("n_ner"),
    )


# ordinal regex-token tags (no char offsets needed): the CHUNK/SRL rules
# only depend on token ORDER, which SQL reproduces exactly
_ORD_TAGS_CTE = f"""
    retoks_ord AS (
        SELECT doc_id,
               UNNEST(REGEXP_EXTRACT_ALL(text, '\\.\\.\\.|--|[A-Za-z0-9]+(-[A-Za-z0-9]+)*|''[A-Za-z]+|[^A-Za-z0-9\\s]')) AS token,
               GENERATE_SUBSCRIPTS(
                   REGEXP_EXTRACT_ALL(text, '\\.\\.\\.|--|[A-Za-z0-9]+(-[A-Za-z0-9]+)*|''[A-Za-z]+|[^A-Za-z0-9\\s]'), 1) AS token_idx
        FROM documents),
    tagged AS (
        SELECT doc_id, token_idx, token, {_POS_CASE} AS tag
        FROM retoks_ord),
    kinds AS (
        SELECT doc_id, token_idx,
               CASE WHEN tag IN ('DT','CD','NN','NNS','NNP') THEN 'NP'
                    WHEN tag IN ('VB','VBD','VBG','RB') THEN 'VP' END AS kind
        FROM tagged),
    runs AS (
        SELECT doc_id, kind, token_idx,
               token_idx - ROW_NUMBER() OVER (
                   PARTITION BY doc_id, kind ORDER BY token_idx) AS grp
        FROM kinds WHERE kind IS NOT NULL)
"""


@query(
    "annotate_chunk_spans",
    oracle=f"""
    WITH {_ORD_TAGS_CTE}
    SELECT doc_id, kind AS label, COUNT(DISTINCT grp) AS n_chunks
    FROM runs GROUP BY doc_id, kind
    """,
)
def annotate_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK through the UDF pipeline (TOKEN->POS->CHUNK closure,
    AnnotationMode.java:193-196): maximal same-kind tag runs become one
    NP/VP span (the BIO-merge shape, chunk_spans in annotators/light).
    The oracle rebuilds the runs with gaps-and-islands over the ordinal
    tag sequence — chunking depends on token order alone."""
    ann = _annotated_corpus(spark, sf_dir, "CHUNK")
    spans = ann.select(
        "doc_id", F.explode(F.col("label_views")["chunk"]["labels"]).alias("s")
    )
    return spans.groupBy("doc_id", F.col("s.label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_chunks")
    )


# NER islands with their lowercase surfaces (ws-token adjacency == char
# adjacency on the single-spaced fixture text, as in annotate_ner_spans)
_NER_MENTIONS_CTE = f"""
    {_WS_TOKS_CTE},
    matched AS (
        SELECT doc_id, token_idx, token,
               CASE LOWER(token)
                 WHEN 'spark' THEN 'TECH' WHEN 'hadoop' THEN 'TECH'
                 WHEN 'hash' THEN 'TECH' WHEN 'vector' THEN 'TECH'
                 WHEN 'customer' THEN 'ROLE' WHEN 'supplier' THEN 'ROLE'
                 WHEN 'lorem' THEN 'MISC' WHEN 'ipsum' THEN 'MISC'
               END AS label
        FROM offs),
    islands AS (
        SELECT doc_id, token_idx, token, label,
               token_idx - ROW_NUMBER() OVER (
                   PARTITION BY doc_id, label ORDER BY token_idx) AS grp
        FROM matched WHERE label IS NOT NULL),
    mentions AS (
        SELECT doc_id, label,
               STRING_AGG(LOWER(token), ' ' ORDER BY token_idx) AS mention
        FROM islands GROUP BY doc_id, label, grp)
"""


@query(
    "annotate_coref_clusters",
    oracle=f"""
    WITH {_NER_MENTIONS_CTE}
    SELECT doc_id, mention, COUNT(*) AS n_mentions
    FROM mentions GROUP BY doc_id, mention
    """,
)
def annotate_coref_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COREF (Clustering view): mentions with identical lowercase surface
    form cluster per document (IllinoisCorefHandler.java:120-197 shape,
    TOKEN/POS/NER closure per AnnotationMode.java:197-201). One row per
    cluster: its surface key and mention count. The cross-document
    variant (MultiRecord, cluster.thrift:30) is the same computation
    grouped by corpus instead of doc_id."""
    ann = _annotated_corpus(spark, sf_dir, "COREF")
    clusters = ann.select(
        "doc_id", F.explode(F.col("cluster_views")["coref"]["clusters"]).alias("c")
    )
    return clusters.select(
        "doc_id",
        F.col("c.labels")[0]["label"].alias("mention"),
        F.size(F.col("c.labels")).alias("n_mentions"),
    )


@query(
    "annotate_mention_spans",
    oracle=f"""
    WITH {_WS_TOKS_CTE},
    matched AS (
        SELECT doc_id, token_idx, token, token_start,
               token_start + LENGTH(token) AS token_end,
               CASE LOWER(token)
                 WHEN 'spark' THEN 'TECH' WHEN 'hadoop' THEN 'TECH'
                 WHEN 'hash' THEN 'TECH' WHEN 'vector' THEN 'TECH'
                 WHEN 'customer' THEN 'ROLE' WHEN 'supplier' THEN 'ROLE'
                 WHEN 'lorem' THEN 'MISC' WHEN 'ipsum' THEN 'MISC'
               END AS label
        FROM offs),
    islands AS (
        SELECT *, token_idx - ROW_NUMBER() OVER (
                   PARTITION BY doc_id, label ORDER BY token_idx) AS grp
        FROM matched WHERE label IS NOT NULL)
    SELECT doc_id,
           STRING_AGG(LOWER(token), ' ' ORDER BY token_idx) AS mention,
           MIN(token_start) AS span_start,
           MAX(token_end)   AS span_end
    FROM islands GROUP BY doc_id, label, grp
    """,
)
def annotate_mention_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standalone `mention` view — the reference's demo surface
    requests it as its own annotation (CuratorClient.java:1104-1119
    prints mention spans with char offsets): one row per coref MENTION
    with its lowercase surface key and character span, flattened out of
    the Clustering view (each cluster's labels are its mentions,
    coref_clusters in annotators/light.py). The oracle rebuilds every
    mention from the NER-island rules with char offsets — the span
    arithmetic (MIN start / MAX end over the merged island) must match
    the UDF's text[start:ending] slice exactly."""
    ann = _annotated_corpus(spark, sf_dir, "COREF")
    clusters = ann.select(
        "doc_id", F.explode(F.col("cluster_views")["coref"]["clusters"]).alias("c")
    )
    mentions = clusters.select(
        "doc_id", F.explode(F.col("c.labels")).alias("m")
    )
    return mentions.select(
        "doc_id",
        F.col("m.label").alias("mention"),
        F.col("m.start").alias("span_start"),
        F.col("m.ending").alias("span_end"),
    )


@query(
    "annotate_wiki_urls",
    oracle=f"""
    WITH {_NER_MENTIONS_CTE}
    SELECT doc_id, label,
           'https://en.wikipedia.org/wiki/' ||
           LIST_AGGREGATE(
               LIST_TRANSFORM(STRING_SPLIT(mention, ' '),
                              w -> UPPER(w[1]) || w[2:]),
               'string_agg', '_') AS url
    FROM mentions
    """,
)
def annotate_wiki_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIKI: one wikified span per NER span carrying an attributes map
    (CuratorClient.java:1167-1175 reads these attributes; deps
    TOKEN/POS/CHUNK/NER per AnnotationMode.java:229-234). Exercises
    Span.attributes end-to-end: the UDF writes the map, the query reads
    it back out of the nested column."""
    ann = _annotated_corpus(spark, sf_dir, "WIKI")
    spans = ann.select(
        "doc_id", F.explode(F.col("label_views")["wikifier"]["labels"]).alias("s")
    )
    return spans.select(
        "doc_id",
        F.col("s.label").alias("label"),
        F.col("s.attributes")["url"].alias("url"),
    )


@query(
    "annotate_srl_args",
    oracle=f"""
    WITH {_ORD_TAGS_CTE},
    np_runs AS (
        SELECT doc_id, grp, MIN(token_idx) AS lo, MAX(token_idx) AS hi
        FROM runs WHERE kind = 'NP' GROUP BY doc_id, grp),
    preds AS (
        SELECT doc_id, token_idx FROM tagged WHERE tag IN ('VB','VBD','VBG')),
    per_pred AS (
        SELECT p.doc_id, p.token_idx,
               MAX(CASE WHEN r.hi < p.token_idx THEN 1 ELSE 0 END) AS has0,
               MAX(CASE WHEN r.lo > p.token_idx THEN 1 ELSE 0 END) AS has1
        FROM preds p LEFT JOIN np_runs r ON r.doc_id = p.doc_id
        GROUP BY p.doc_id, p.token_idx),
    verb AS (
        SELECT doc_id, COUNT(*) AS n_predicates,
               SUM(has0) AS n_arg0, SUM(has1) AS n_arg1
        FROM per_pred GROUP BY doc_id),
    nom AS (
        SELECT doc_id, COUNT(*) AS n_nom_predicates
        FROM tagged WHERE tag = 'NNS' GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(v.n_predicates, 0) AS n_predicates,
           COALESCE(v.n_arg0, 0) AS n_arg0,
           COALESCE(v.n_arg1, 0) AS n_arg1,
           COALESCE(n.n_nom_predicates, 0) AS n_nom_predicates
    FROM documents d
    LEFT JOIN verb v ON v.doc_id = d.doc_id
    LEFT JOIN nom n ON n.doc_id = d.doc_id
    """,
)
def annotate_srl_args(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERB_SRL + NOM_SRL (Forest views): one tree per predicate, ARG0 =
    nearest NP chunk left, ARG1 = nearest NP right (srl_forest rules;
    dep closure TOKEN/POS/CHUNK per AnnotationMode.java:223-228).
    Column expressions walk the Forest entirely JVM-side (exists/filter
    lambdas over the nested tree arrays — no second UDF pass)."""
    ann = _annotated_corpus(spark, sf_dir, ["VERB_SRL", "NOM_SRL"])
    trees = F.col("parse_views")["srl"]["trees"]
    has = lambda arg: F.size(  # noqa: E731
        F.filter(trees, lambda t: F.exists(t["nodes"], lambda n: n["label"] == arg))
    )
    return ann.select(
        "doc_id",
        F.size(trees).alias("n_predicates"),
        has("ARG0").alias("n_arg0"),
        has("ARG1").alias("n_arg1"),
        F.size(F.col("parse_views")["nom"]["trees"]).alias("n_nom_predicates"),
    )


@query(
    "annotate_parse_shape",
    oracle="""
    WITH s AS (
        SELECT doc_id,
               LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+[\"'')\\]]*(\\s+|$)'))
               + CASE WHEN TRIM(REGEXP_REPLACE(text, '^.*[.!?]+[\"'')\\]]*(\\s+|$)', '', 's'))
                           <> '' THEN 1 ELSE 0 END AS n_sents,
               LEN(REGEXP_EXTRACT_ALL(text, '\\.\\.\\.|--|[A-Za-z0-9]+(-[A-Za-z0-9]+)*|''[A-Za-z]+|[^A-Za-z0-9\\s]'))
                   AS n_toks
        FROM documents)
    SELECT doc_id,
           n_sents AS n_trees,
           n_sents + n_toks AS n_nodes,
           n_toks - n_sents AS n_dep_edges
    FROM s
    """,
)
def annotate_parse_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARSE + STANFORD_PARSE (Forest views, one tree per sentence;
    multiparser emits stanfordParse AND stanfordDep from one call,
    CuratorReducer.java:882-889): tree/node/edge counts per document,
    read by JVM-side lambda folds over the nested forests. Every
    sentence's terminator run is itself a token, so node and edge
    counts close over sentence+token counts exactly."""
    ann = _annotated_corpus(spark, sf_dir, ["STANFORD_PARSE", "PARSE"])
    charniak = F.col("parse_views")["charniak"]["trees"]
    dep = F.col("parse_views")["stanfordDep"]["trees"]
    n_nodes = F.aggregate(
        charniak, F.lit(0), lambda acc, t: acc + F.size(t["nodes"])
    )
    n_edges = F.aggregate(
        dep,
        F.lit(0),
        lambda acc, t: acc + F.greatest(F.size(t["nodes"]) - 1, F.lit(0)),
    )
    return ann.select(
        "doc_id",
        F.size(charniak).alias("n_trees"),
        n_nodes.alias("n_nodes"),
        n_edges.alias("n_dep_edges"),
    )


@query(
    "annotate_crossdoc_coref",
    oracle=f"""
    WITH {_NER_MENTIONS_CTE}
    SELECT d.source, m.mention,
           COUNT(*) AS n_mentions,
           COUNT(DISTINCT m.doc_id) AS n_docs
    FROM mentions m JOIN documents d ON d.doc_id = m.doc_id
    GROUP BY d.source, m.mention
    """,
)
def annotate_crossdoc_coref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document coreference — the reference's ONLY multi-document
    operation (MultiRecord, curator.thrift:46-53; clusterRecords over a
    list of Records, cluster.thrift:30). Spark shape: project each doc
    down to its mention rows FIRST (never ship whole records into the
    grouped-map), then groupBy(corpus_key).applyInPandas builds the
    cross-doc clusters per corpus in Python — the MultiRecord unit is a
    pandas frame. At 100 TB the pre-projection is what keeps a corpus
    group bounded: mentions, not documents, cross the shuffle."""
    import pandas as pd
    from pyspark.sql.types import StructType

    ann = _annotated_corpus(spark, sf_dir, "NER")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    mentions = (
        ann.select(
            "doc_id",
            "raw_text",
            F.explode(F.col("label_views")["ner"]["labels"]).alias("s"),
        )
        .select(
            "doc_id",
            F.lower(
                F.expr("substring(raw_text, s.start + 1, s.ending - s.start)")
            ).alias("mention"),
        )
        .join(docs, "doc_id")
    )

    out_schema = StructType.fromDDL(
        "source string, mention string, n_mentions bigint, n_docs bigint"
    )

    def cluster_corpus(pdf: pd.DataFrame) -> pd.DataFrame:
        # the MultiRecord: every mention of one corpus in one frame
        g = pdf.groupby("mention").agg(
            n_mentions=("doc_id", "size"), n_docs=("doc_id", "nunique")
        )
        out = g.reset_index()
        out.insert(0, "source", pdf["source"].iloc[0])
        return out

    return mentions.groupBy("source").applyInPandas(cluster_corpus, out_schema)


@query(
    "annotate_entity_pmi",
    oracle=f"""
    WITH {_WS_TOKS_CTE},
    matched AS (
        SELECT doc_id, token_idx, token_start,
               token_start + LENGTH(token) AS token_end,
               CASE LOWER(token)
                 WHEN 'spark' THEN 'TECH' WHEN 'hadoop' THEN 'TECH'
                 WHEN 'hash' THEN 'TECH' WHEN 'vector' THEN 'TECH'
                 WHEN 'customer' THEN 'ROLE' WHEN 'supplier' THEN 'ROLE'
                 WHEN 'lorem' THEN 'MISC' WHEN 'ipsum' THEN 'MISC'
               END AS label
        FROM offs),
    islands AS (
        SELECT *, token_idx - ROW_NUMBER() OVER (
                   PARTITION BY doc_id, label ORDER BY token_idx) AS grp
        FROM matched WHERE label IS NOT NULL),
    spans AS (
        SELECT doc_id,
               MIN(token_start) AS s, MAX(token_end) AS e
        FROM islands GROUP BY doc_id, label, grp),
    ents AS (
        SELECT DISTINCT sp.doc_id,
               LOWER(SUBSTR(d.text, sp.s + 1, sp.e - sp.s)) AS surface
        FROM spans sp JOIN documents d ON d.doc_id = sp.doc_id),
    marg AS (SELECT surface, COUNT(*) AS n_s FROM ents GROUP BY surface),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM ents),
    pairs AS (
        SELECT a.surface AS ent_a, b.surface AS ent_b, COUNT(*) AS n_ab
        FROM ents a JOIN ents b
          ON b.doc_id = a.doc_id AND a.surface < b.surface
        GROUP BY a.surface, b.surface)
    SELECT p.ent_a, p.ent_b, p.n_ab, ma.n_s AS n_a, mb.n_s AS n_b,
           CAST(FLOOR(LN(
               (CAST(p.n_ab AS DOUBLE) * CAST(n.n_docs AS DOUBLE))
               / (CAST(ma.n_s AS DOUBLE) * CAST(mb.n_s AS DOUBLE))
           ) * 1e9) AS BIGINT) AS pmi_nano
    FROM pairs p
    JOIN marg ma ON ma.surface = p.ent_a
    JOIN marg mb ON mb.surface = p.ent_b
    CROSS JOIN n
    ORDER BY pmi_nano DESC, p.ent_a, p.ent_b
    LIMIT 20
    """,
)
def annotate_entity_pmi(
    spark: SparkSession, sf_dir: str, checkpoint: bool = True
) -> DataFrame:
    """Annotation -> analytics COMPOSITION (the reference's job-chaining
    A11 exercised end-to-end): run the NER annotator (the real Arrow
    mapInArrow stage, BIO spans merged), extract each span's SURFACE
    form from the raw text, and compute document-level pointwise mutual
    information between entity pairs — "which entities travel
    together", the knowledge-graph-edge-weight primitive. The oracle
    replays the gazetteer + gaps-and-islands merge + substring + PMI
    chain in pure SQL, so the whole two-stage pipeline is value-checked.

    Exactness: the text_pmi_bigrams integer recipe — counts are exact,
    the log quantizes to integer nano-nats from one explicit-DOUBLE
    argument chain, ordering ties break on the pair.

    Scale shape: the annotator is the fused one-pass Arrow stage every
    provide() query pays (per-doc marginal cost ~0.2 ms); entity rows
    per doc are gazetteer-bounded, so the (doc, surface) distinct, the
    doc-local pair join (equi on doc_id, per-doc blowup <= entities^2),
    and the |surfaces|-row marginals all stay tiny relative to the
    scan. The 1-row doc count crosses broadcast."""
    ann = _annotated_corpus(spark, sf_dir, "NER")
    spans = ann.select(
        "doc_id",
        "raw_text",
        F.explode(F.col("label_views")["ner"]["labels"]).alias("sp"),
    )
    # r9: ents roots FOUR consumer branches (marginals, the doc count,
    # both sides of the per-doc pair self-join) and sits DOWNSTREAM of
    # the Arrow NER mapInArrow stage — unpersisted, every branch
    # re-ran the annotator over the corpus. Persist the
    # gazetteer-bounded (doc, surface) relation, eagerly checkpoint the
    # 20-row result, unpersist before return (the batch-5 pattern).
    ents = spans.select(
        "doc_id",
        F.lower(
            F.expr("substring(raw_text, sp.start + 1, sp.ending - sp.start)")
        ).alias("surface"),
    ).distinct()
    # checkpoint=False returns the fully lazy plan for plan audits.
    if checkpoint:
        ents = ents.persist()
    marg = ents.groupBy("surface").agg(F.count(F.lit(1)).alias("n_s"))
    n = ents.agg(F.countDistinct("doc_id").alias("n_docs"))
    pairs = (
        ents.alias("a")
        .join(
            ents.alias("b"),
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("a.surface") < F.col("b.surface")),
        )
        .groupBy(
            F.col("a.surface").alias("ent_a"), F.col("b.surface").alias("ent_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ma = marg.select(F.col("surface").alias("ent_a"), F.col("n_s").alias("n_a"))
    mb = marg.select(F.col("surface").alias("ent_b"), F.col("n_s").alias("n_b"))
    out = (
        pairs.join(F.broadcast(ma), "ent_a")
        .join(F.broadcast(mb), "ent_b")
        .crossJoin(F.broadcast(n))
        .select(
            "ent_a",
            "ent_b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(
                "cast(floor(ln("
                "(cast(n_ab as double) * cast(n_docs as double))"
                " / (cast(n_a as double) * cast(n_b as double))"
                ") * 1e9) as bigint)"
            ).alias("pmi_nano"),
        )
        .orderBy(F.desc("pmi_nano"), "ent_a", "ent_b")
        .limit(20)
    )
    if checkpoint:
        out = out.localCheckpoint(eager=True)
        ents.unpersist()
    return out
