"""JSON, array, and map functions (SURVEY.md §2.2 json/array/map rows).

The reference treats its payload tail as an opaque JSON-ish string and
explicitly avoids parsing it (README.md:19 advises minimizing JSON
work); the engine makes JSON a first-class column type instead, with
`from_json`/`get_json_object` pushed into the codegen'd projection.

Float policy: higher-order folds over float arrays are ROUND(,6)ed —
engines may reduce in different orders; element values are cast to
double first so float32 noise doesn't exceed the rounding grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spread import spread
from ..schemas import EVENT_PROPS_SCHEMA
from ._util import t
from .registry import query


@query(
    "json_extract", "json_array",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct,
           json_extract_string(props, '$.missing') AS missing_path,
           CAST(json_valid(props) AS BOOLEAN) AS is_valid
    FROM events
    """,
    description="get_json_object / from_json(schema) / missing-path NULL",
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): JSON parsing is CPU-bound per-row work; a small-file
    # scan would serialize all of it on one core (no-op on wide scans).
    e = spread(t(spark, sf_dir, "events"))
    parsed = F.from_json("props", EVENT_PROPS_SCHEMA)
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_path"),
        parsed.getField("k").alias("k_struct"),
        F.get_json_object("props", "$.missing").alias("missing_path"),
        F.from_json("props", EVENT_PROPS_SCHEMA).isNotNull().alias("is_valid"),
    )


@query(
    "json_tuple_tojson", "json_array",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           concat('{"type":"', event_type, '","k":', json_extract_string(props, '$.k'), '}')
               AS rebuilt_json
    FROM events
    """,
    description="json_tuple extraction + to_json re-serialization",
)
def json_tuple_tojson(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(t(spark, sf_dir, "events"))
    # json_tuple is the multi-path extractor (UDTF-style generator)
    extracted = e.select(
        "event_id", "event_type",
        F.json_tuple(F.col("props"), "k").alias("k_str"),
    )
    return extracted.select(
        "event_id",
        "k_str",
        F.to_json(
            F.struct(
                F.col("event_type").alias("type"),
                F.col("k_str").cast("long").alias("k"),
            )
        ).alias("rebuilt_json"),
    )


@query(
    "array_ops", "json_array",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           list_contains(string_split(text, ' '), 'spark') AS has_spark,
           string_split(text, ' ')[1] AS first_token,
           array_to_string(list_slice(string_split(text, ' '), 1, 3), '|') AS head3,
           array_to_string(list_sort(list_distinct(string_split(text, ' '))), '|') AS vocab,
           len(list_distinct(string_split(text, ' '))) AS n_distinct
    FROM documents
    """,
    description="size/array_contains/element_at/slice/sort_array/array_distinct",
)
def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_tokens"),
        F.array_contains(words, "spark").alias("has_spark"),
        F.element_at(words, 1).alias("first_token"),
        F.array_join(F.slice(words, 1, 3), "|").alias("head3"),
        F.array_join(F.array_sort(F.array_distinct(words)), "|").alias("vocab"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct"),
    )


@query(
    "array_higher_order", "json_array",
    oracle="""
    SELECT vec_id,
           ROUND(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6)
               AS vec_sum,
           len(list_filter(embedding, x -> x > 0)) AS n_positive,
           ROUND(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6)
               AS vec_max,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS vec_sq_norm
    FROM embeddings
    """,
    description="higher-order transform/filter/aggregate over float arrays",
)
def array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.round(F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x), 6)
            .alias("vec_sum"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long")
            .alias("n_positive"),
        F.round(F.array_max(as_double), 6).alias("vec_max"),
        F.round(F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x * x), 6)
            .alias("vec_sq_norm"),
    )


@query(
    "map_ops", "json_array",
    oracle="""
    SELECT doc_id,
           map_extract(m, 'lang')[1] AS lang_tag,
           array_to_string(list_sort(map_keys(m)), '|') AS tag_keys,
           len(map_values(m)) AS n_tags
    FROM (
        SELECT doc_id, MAP {'lang': lang, 'source': source} AS m
        FROM documents
    )
    """,
    description="map construction, element_at, map_keys/map_values",
)
def map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    m = F.create_map(F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source"))
    return d.select(
        "doc_id",
        F.element_at(m, "lang").alias("lang_tag"),
        F.array_join(F.array_sort(F.map_keys(m)), "|").alias("tag_keys"),
        F.size(F.map_values(m)).cast("long").alias("n_tags"),
    )


@query(
    "array_zip_map_entries", "json_array",
    oracle="""
    SELECT doc_id,
           map_extract(m, first_key)[1] AS first_key_len,
           cardinality(m) AS n_entries,
           first_key
    FROM (
        SELECT doc_id,
               map(ks, list_transform(ks, k -> CAST(length(k) AS BIGINT))) AS m,
               ks[1] AS first_key
        FROM (
            SELECT doc_id,
                   list_slice(list_sort(list_distinct(string_split(text, ' '))), 1, 3) AS ks
            FROM documents
        )
    )
    """,
    description="arrays_zip + map_from_entries + cardinality/element_at",
)
def array_zip_map_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    ks = F.slice(F.array_sort(F.array_distinct(F.split("text", " "))), 1, 3)
    vs = F.transform(ks, lambda k: F.length(k).cast("long"))
    m = F.map_from_entries(F.arrays_zip(ks, vs))
    return d.select(
        "doc_id",
        F.element_at(m, F.element_at(ks, 1)).alias("first_key_len"),
        F.size(F.map_keys(m)).cast("long").alias("n_entries"),
        F.element_at(ks, 1).alias("first_key"),
    )


@query(
    "array_explode", "json_array",
    oracle="""
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS token,
           generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
    FROM documents
    WHERE doc_id < 50
    """,
    description="posexplode (lateral view) of split tokens",
)
def array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "token"),
    ).select("doc_id", "token", "pos")


@query(
    "array_generators", "json_array",
    oracle="""
    SELECT p_partkey,
           array_to_string(generate_series(1, (p_size % 6) + 3), ',') AS seq,
           array_to_string(generate_series(2, 12, 3), ',') AS stepped,
           array_to_string(
               list_transform(generate_series(1, 3), x -> p_size), ',')
               AS repeated,
           array_to_string(
               flatten([[p_size], [p_size + 1, p_size + 2]]), ',') AS flat,
           array_to_string(list_sort(list_distinct(
               list_concat(generate_series(1, (p_size % 6) + 3),
                           generate_series(2, 12, 3)))), ',') AS unioned,
           array_to_string(list_sort(list_distinct(list_filter(
               generate_series(1, (p_size % 6) + 3),
               x -> list_contains(generate_series(2, 12, 3), x)))), ',')
               AS intersected
    FROM part WHERE p_partkey <= 100
    """,
    description="sequence/array_repeat/flatten/array_union/array_intersect generators",
)
def array_generators(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Array outputs joined to CSV strings: the driver's canonicalizer
    # can't hash array cells (int elements, so the join is lossless).
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    seq = F.sequence(F.lit(1), (F.col("p_size") % 6) + 3)
    stepped = F.sequence(F.lit(2), F.lit(12), F.lit(3))

    def joined(col: F.Column) -> F.Column:
        return F.array_join(F.transform(col, lambda x: x.cast("string")), ",")

    return p.select(
        "p_partkey",
        joined(seq).alias("seq"),
        joined(stepped).alias("stepped"),
        joined(F.array_repeat(F.col("p_size"), 3)).alias("repeated"),
        joined(F.flatten(F.array(
            F.array(F.col("p_size")),
            F.array(F.col("p_size") + 1, F.col("p_size") + 2)))).alias("flat"),
        joined(F.array_sort(F.array_union(seq, stepped))).alias("unioned"),
        joined(F.array_sort(F.array_intersect(seq, stepped)))
            .alias("intersected"),
    )


@query(
    "array_explode_outer_stack", "json_array",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN NULL
                    ELSE regexp_extract_all(text, '([a-z]{6,})') END AS arr,
               lang, source
        FROM documents WHERE doc_id <= 100
    ), exploded AS (
        -- explode_outer: NULL/empty arrays keep their row with NULL word
        SELECT doc_id, CASE WHEN len(arr) > 0 THEN unnest(arr) END AS word
        FROM base
        UNION ALL
        SELECT doc_id, NULL AS word FROM base
        WHERE arr IS NULL OR len(arr) = 0
    ), stacked AS (
        -- stack(2, 'lang', lang, 'source', source): wide->long constants
        SELECT doc_id, 'lang' AS attr, lang AS val FROM base
        UNION ALL
        SELECT doc_id, 'source' AS attr, source AS val FROM base
    )
    SELECT doc_id, word, NULL AS attr, NULL AS val FROM exploded
    UNION ALL
    SELECT doc_id, NULL, attr, val FROM stacked
    """,
    description="explode_outer (NULL-preserving) + stack (wide->long UDTF)",
)
def array_explode_outer_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    base = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None))
            .otherwise(F.regexp_extract_all("text", F.lit("([a-z]{6,})"),
                                            F.lit(1))).alias("arr"),
        "lang", "source")
    exploded = base.select(
        "doc_id", F.explode_outer("arr").alias("word"),
        F.lit(None).cast("string").alias("attr"),
        F.lit(None).cast("string").alias("val"))
    stacked = base.select(
        "doc_id", F.lit(None).cast("string").alias("word"),
        F.expr("stack(2, 'lang', lang, 'source', source) AS (attr, val)"))
    return exploded.unionAll(stacked)


@query(
    "map_higher_order", "json_array",
    oracle="""
    WITH base AS (
        SELECT p_partkey,
               ['size', 'price_d', 'key_mod'] AS ks,
               [CAST(p_size AS BIGINT), CAST(ROUND(p_retailprice) AS BIGINT),
                p_partkey % 10] AS vs
        FROM part WHERE p_partkey <= 200
    ), pairs AS (
        -- map_filter(v > 5) then transform_values(v * 2), keys sorted:
        -- expressed over the parallel lists the MAP was built from
        SELECT p_partkey,
               list_sort(list_transform(
                   list_filter(generate_series(1, 3), i -> vs[i] > 5),
                   i -> ks[i])) AS kept_keys,
               list_transform(
                   list_sort(list_transform(
                       list_filter(generate_series(1, 3), i -> vs[i] > 5),
                       i -> ks[i])),
                   k -> 2 * vs[list_position(ks, k)]) AS doubled_vals
        FROM base
    )
    SELECT p_partkey,
           array_to_string(kept_keys, ',') AS kept_keys,
           array_to_string(doubled_vals, ',') AS doubled_vals,
           len(kept_keys) AS n_kept
    FROM pairs
    """,
    description="map_filter + transform_values + sorted map_entries extraction",
)
def map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Array outputs joined to CSV strings (driver hasher can't hash lists).
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    m = F.map_from_arrays(
        F.array(F.lit("size"), F.lit("price_d"), F.lit("key_mod")),
        F.array(F.col("p_size").cast("long"),
                F.round("p_retailprice").cast("long"),
                F.col("p_partkey") % 10))
    filtered = F.map_filter(m, lambda k, v: v > 5)
    doubled = F.transform_values(filtered, lambda k, v: v * 2)
    entries = F.array_sort(F.map_entries(doubled))
    return p.select(
        "p_partkey",
        F.array_join(F.transform(entries, lambda e: e["key"]), ",")
            .alias("kept_keys"),
        F.array_join(
            F.transform(entries, lambda e: e["value"].cast("string")), ",")
            .alias("doubled_vals"),
        F.size(entries).cast("long").alias("n_kept"),
    )


@query(
    "json_variant", "json_array",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           json_extract_string(props, '$.missing') AS missing,
           CAST(json(props) AS VARCHAR) AS normalized_json
    FROM events
    """,
    description="VariantType JSON: parse_json + typed variant_get (Spark 4 semi-structured path)",
)
def json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark 4's Variant encoding is the scale path for semi-structured
    # columns: parse once into a binary-tree encoding, then typed
    # variant_get extraction without per-access JSON re-parsing (unlike
    # repeated get_json_object calls, which re-parse the string each
    # time). try_variant_get on a missing path yields NULL, matching
    # the oracle's json_extract_string semantics.
    e = spread(t(spark, sf_dir, "events"))
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        F.try_variant_get(v, "$.missing", "string").alias("missing"),
        F.to_json(v).alias("normalized_json"))


@query(
    "map_str_to_map", "json_array",
    oracle="""
    SELECT event_id,
           CAST(event_id AS VARCHAR) AS id_val,
           event_type AS type_val,
           2 AS n_keys
    FROM events
    """,
    description="str_to_map: delimited key/value text to a map column",
)
def map_str_to_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Build 'id:<id>,type:<type>' per row, parse with str_to_map, read
    # entries back out; the oracle reconstructs the extracted values
    # from the source columns (map values are strings by definition).
    e = t(spark, sf_dir, "events")
    kv = F.concat(F.lit("id:"), F.col("event_id").cast("string"),
                  F.lit(",type:"), F.col("event_type"))
    m = F.expr("str_to_map(kv, ',', ':')")
    return (e.select("event_id", kv.alias("kv"))
            .select("event_id",
                    F.element_at(m, "id").alias("id_val"),
                    F.element_at(m, "type").alias("type_val"),
                    F.size(m).alias("n_keys")))


@query(
    "array_quantifiers_zip", "json_array",
    oracle="""
    SELECT vec_id,
           len(list_filter(embedding, x -> x > 0.3)) > 0 AS any_big,
           len(list_filter(embedding, x -> x > -0.3)) = len(embedding)
               AS all_above,
           ROUND(list_sum(list_transform(embedding, (x, i) ->
                 CAST(x AS DOUBLE) * CAST(list_reverse(embedding)[i] AS DOUBLE))), 6)
               AS rev_dot,
           ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(embedding, x -> CAST(x AS DOUBLE))),
                 (acc, x) -> acc + x), 6) AS red_sum
    FROM embeddings
    """,
    description="higher-order exists/forall/zip_with/reduce over float arrays",
)
def array_quantifiers_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exists/forall quantifiers, zip_with (element-wise against the
    # reversed vector — the embeddings are L2-normalized so a self-dot
    # would be constant 1.0), and reduce as an explicit left fold.
    # Both engines run the identical left-to-right IEEE sequence per
    # row, so ROUND(,6) has ~1e-10 headroom. DuckDB mirrors: exists ->
    # list_filter length, zip_with -> indexed list_transform (1-based
    # i), reduce -> list_reduce over a prepended init.
    e = t(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    rev = F.reverse(as_double)
    return e.select(
        "vec_id",
        F.exists("embedding", lambda x: x > 0.3).alias("any_big"),
        F.forall("embedding", lambda x: x > -0.3).alias("all_above"),
        F.round(F.aggregate(F.zip_with(as_double, rev, lambda x, y: x * y),
                            F.lit(0.0), lambda acc, x: acc + x), 6)
            .alias("rev_dot"),
        F.round(F.reduce(as_double, F.lit(0.0), lambda acc, x: acc + x), 6)
            .alias("red_sum"))
