"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (the CDC
dataflow stages S2-S12/S14 re-expressed Spark-first) plus the training-data
pipeline operators (dedup / similarity / text analysis / multimodal), each
paired with a DuckDB oracle in ``oracle_sql()`` where ANSI-SQL-expressible.

CDC operators run over a change log derived deterministically from the
driver's ``events`` table (identical derivation in Spark and SQL —
``CHANGELOG_FROM_EVENTS_SQL``); pipeline operators run over ``documents`` /
``embeddings``.  All shared hash math uses the md5-hex→int64 family so values
are bit-identical across engines.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# ensure the engine package resolves regardless of the driver's cwd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_tablestore_spark.config import (
    DeleteMode,
    InsertMode,
    PrimaryKeyMode,
    RuntimeErrorTolerance,
    SinkConfig,
)
from kafka_connect_tablestore_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from kafka_connect_tablestore_spark.operators.keys import pk_kafka, pk_search
from kafka_connect_tablestore_spark.operators.lww import (
    lww_dedup_maxby,
    lww_dedup_salted,
    lww_dedup_window,
)
from kafka_connect_tablestore_spark.operators.changefeed import (
    asof_enrich,
    log_asof_prefix,
    scd2_history,
    snapshot_diff,
)
from kafka_connect_tablestore_spark.operators.monitor import dedup_redelivered
from kafka_connect_tablestore_spark.operators.corpus import (
    EMAIL_RE,
    IPV4_RE,
    LONGNUM_RE,
    chunk_dedup,
    global_shuffle,
    mixture_sample,
    pack_sequences,
    redact_pii,
)
from kafka_connect_tablestore_spark.operators.multimodal import decode_and_featurize
from kafka_connect_tablestore_spark.operators.routing import with_target_table
from kafka_connect_tablestore_spark.operators.rowchange import (
    split_errant,
    validate_and_classify,
)
from kafka_connect_tablestore_spark.operators.similarity import (
    ann_ivf_topk,
    ann_lsh_topk,
    brute_force_topk,
    embedding_neardup_pairs,
)
from kafka_connect_tablestore_spark.functions.text import (
    STOPWORDS,
    alpha_ratio,
    doc_fingerprint,
    lang_scores,
    stopword_ratio,
    token_count,
)
from kafka_connect_tablestore_spark.plans.merge import merge_into_state
from kafka_connect_tablestore_spark.sources.synth import (
    CHANGELOG_FROM_EVENTS_SQL,
    changelog_from_events,
)

ATTRS = ("commit", "lang", "content")
CFG = SinkConfig(insert_mode=InsertMode.PUT, delete_mode=DeleteMode.ROW)


def _scan_bytes(path: str) -> int:
    """Input size of a parquet path from file metadata (os.stat), read on
    every call so a rewritten dataset is never sized from stale numbers —
    the walk is cheap next to the Spark job it sizes."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def _bytes_conf(spark: SparkSession, key: str, default: int) -> int:
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    mult = 1
    for suf, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if raw.rstrip("b").endswith(suf):
            raw, mult = raw.rstrip("b")[: -1], m
            break
    try:
        return int(float(raw)) * mult
    except ValueError:
        return default


def _par(spark: SparkSession, path: str) -> DataFrame:
    """Scale-adaptive parquet read (guide §2/§6): when the table fits in
    fewer file-scan splits than the session has cores (the tiny-sf shape:
    documents.parquet at sf0.1 is one 0.6 MB file → a ONE-task scan), every
    map-heavy operator above it runs on a single core.  Repartition to the
    default parallelism ONLY in that case — the probe is file metadata
    (os.stat, no Spark job), the moved volume is bounded by
    cores × maxPartitionBytes by construction, and at real scale the scan
    already yields ≥ parallelism splits so this is plan-identical to a
    bare read.  Round-robin repartition is deterministic under Spark's
    sort-before-repartition default, and no registry query's result
    depends on row order (the oracle hash is order-insensitive)."""
    df = spark.read.parquet(path)
    max_split = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    par = spark.sparkContext.defaultParallelism
    splits = max(1, -(-_scan_bytes(path) // max_split))
    if splits < par:
        return df.repartition(par)
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately NOT _par: the CDC family is aggregation/shuffle-bound
    # (the fold's exchange re-distributes immediately), and the A/B sweep
    # showed the extra round-robin exchange costs 0.2-0.7 s per query with
    # no map-side win to offset it (OPTIMIZATION_r06.md "scan parallelism")
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _docs(spark: SparkSession, sf_dir: str, par: bool = True) -> DataFrame:
    """``par=False`` keeps the bare scan for queries that are shuffle/agg-
    bound right after the read — the A/B sweep in OPTIMIZATION_r06.md
    showed the extra round-robin exchange costs ~0.1-0.4 s there, while
    map-heavy operators gain 2-6x from `_par`."""
    path = os.path.join(sf_dir, "documents.parquet")
    return _par(spark, path) if par else spark.read.parquet(path)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _par(spark, os.path.join(sf_dir, "embeddings.parquet"))


def _docs_with_urls(
    spark: SparkSession, sf_dir: str, par: bool = True
) -> DataFrame:
    """Documents with the deterministic URL synthesis shared by the
    url/domain query family (the corpus text carries no URLs of its own):
    every doc gains one URL on a subdomain of one of 13 ``site<k>.com``
    sites, every 4th doc a second URL on the shared CDN host, every 5th
    doc a URL under a ``.co.uk`` public suffix — mirrored verbatim in the
    DuckDB ``aug`` CTEs."""
    did = F.col("doc_id")
    return _docs(spark, sf_dir, par=par).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://sub"),
            (did % 7).cast("string"),
            F.lit(".site"),
            (did % 13).cast("string"),
            F.lit(".com/p/"),
            did.cast("string"),
            F.when(
                did % 4 == 0, F.lit(" and http://cdn.shared.net/x")
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" or https://shop"),
                    (did % 3).cast("string"),
                    F.lit(".store"),
                    (did % 11).cast("string"),
                    F.lit(".co.uk/y"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def _log(spark: SparkSession, sf_dir: str) -> DataFrame:
    return changelog_from_events(_events(spark, sf_dir))


def _final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship fold: full change-log replay → final table state + the
    per-row content sha256 invariant (SURVEY §2 S11/S12 + input_hint)."""
    log = _log(spark, sf_dir)
    clean, _ = split_errant(validate_and_classify(log, CFG, ATTRS))
    state = merge_into_state(None, clean, CFG, ATTRS)
    return state.select(
        "repo", "path", "commit", "lang", "content",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _final_state(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- CDC dataflow operators (SURVEY §2) -------------------------------
    def cdc_lww_window(spark, sf):   # S12, window strategy
        return lww_dedup_window(_log(spark, sf), ("repo", "path"))

    def cdc_lww_maxby(spark, sf):    # S12, agg strategy (skew-safe default)
        return lww_dedup_maxby(_log(spark, sf), ("repo", "path"))

    def cdc_lww_salted(spark, sf):   # S12, explicit two-phase salted
        return lww_dedup_salted(_log(spark, sf), ("repo", "path"), n_salts=4)

    def cdc_final_state(spark, sf):  # S11 fold + sha256 invariant
        return _final_state(spark, sf)

    def cdc_final_state_colmode(spark, sf):
        """S11 fold under insert=update + delete.mode=column: null columns
        DELETE (last update wins wholesale); tombstones are dirty records
        and never reach the fold."""
        cfg = SinkConfig(
            insert_mode=InsertMode.UPDATE,
            delete_mode=DeleteMode.COLUMN,
            tolerance=RuntimeErrorTolerance.ALL,
        )
        log = _log(spark, sf)
        clean, _ = split_errant(validate_and_classify(log, cfg, ATTRS))
        return merge_into_state(None, clean, cfg, ATTRS).select(
            "repo", "path", "commit", "lang", "content"
        )

    def cdc_tombstone_filter(spark, sf):  # S10
        log = _log(spark, sf)
        return log.where(F.col("op") == "DELETE").select(
            "partition", "offset", "commit_ts", "repo", "path"
        )

    def cdc_pk_kafka(spark, sf):     # S3
        return pk_kafka(_log(spark, sf)).select("topic_partition", "offset")

    def cdc_pk_search(spark, sf):    # S5
        return pk_search(_log(spark, sf)).select(
            "md5", "topic", "partition", "offset", "timestamp"
        )

    def cdc_routing(spark, sf):      # S2
        cfg = SinkConfig(
            topic_table_map={"repos": "t_repos"}, table_name_format="tbl_<topic>"
        )
        return (
            with_target_table(_log(spark, sf), cfg)
            .groupBy("target_table")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        )

    def cdc_dlq_split(spark, sf):    # S14/S15: update-mode + delete none ⇒
        # tombstones are dirty records routed to the DLQ
        cfg = SinkConfig(
            insert_mode=InsertMode.UPDATE,
            delete_mode=DeleteMode.NONE,
            tolerance=RuntimeErrorTolerance.ALL,
        )
        log = _log(spark, sf)
        _, errant = split_errant(validate_and_classify(log, cfg, ATTRS))
        return errant.select(
            F.concat_ws("_", F.col("topic"), F.col("partition")).alias("topic_partition"),
            "offset",
            "error_info",
        )

    def cdc_type_cast(spark, sf):    # S8 type lattice
        e = _events(spark, sf)
        return e.select(
            F.col("event_id").cast("long").alias("event_id"),
            F.col("user_id").cast("long").alias("user_id_long"),
            F.col("value").cast("double").alias("value_double"),
            F.col("value").cast("string").alias("value_str"),
            (F.col("event_type") == "error").alias("is_error"),
        )

    def cdc_projection_whitelist(spark, sf):  # S7
        cfg = SinkConfig(column_whitelist=("lang", "content"))
        from kafka_connect_tablestore_spark.operators.projection import project_attributes

        return project_attributes(_log(spark, sf), cfg)

    # ---- training-data pipeline operators ---------------------------------
    def cdc_timeseries_transform(spark, sf):  # S18
        from kafka_connect_tablestore_spark.operators.timeseries import (
            TimeseriesConfig,
            timeseries_transform,
        )

        e = _events(spark, sf).select(
            "event_id", "event_type", "user_id", "value",
            F.expr(
                "timestampdiff(MILLISECOND, timestamp_ntz'1970-01-01 00:00:00', "
                "cast(ts as timestamp_ntz))"
            ).alias("t_ms"),
        )
        cfg = TimeseriesConfig(
            measurement_field="event_type",
            datasource_field="user_id",
            tag_fields=("event_type",),
            time_field="t_ms",
            time_unit="ms",
            field_cols=("value", "event_id"),
        )
        out = timeseries_transform(e, cfg)
        return out.select(
            "_measurement", "_datasource", "_tags_str", "_time_us", "value", "event_id"
        )

    def cdc_windowed_counts(spark, sf):
        """Tumbling 1-minute event-time change counts — the batch twin of the
        streaming windowed aggregate (streaming/stateful.py::
        windowed_change_counts; withWatermark is a no-op in batch mode, so
        the SAME function serves both).  Window bounds exported as epoch ms
        (timezone-free, engine-portable)."""
        from kafka_connect_tablestore_spark.streaming.stateful import (
            windowed_change_counts,
        )

        w = windowed_change_counts(_log(spark, sf), window="1 minute")
        return w.select(
            F.unix_millis("window_start").alias("window_start_ms"),
            F.unix_millis("window_end").alias("window_end_ms"),
            "repo",
            "n_events",
            "n_deletes",
        )

    # ---- schemaless MAP / raw STRING payload shapes (SURVEY §1.1 2+3) -----
    def _map_events(spark, sf):
        """Deterministic map<string,string> payload derived from ``events``:
        the schemaless-JSON shape (JsonConverter schemas.enable=false).  One
        in 7 user_ids is corrupted to a non-numeric string so the declared-
        type path exercises TYPE_MISMATCH."""
        e = _events(spark, sf)
        uid = F.col("user_id").cast("long").cast("string")
        return e.select(
            F.col("event_id").cast("long").alias("event_id"),
            F.create_map(
                F.lit("user_id"),
                F.when(F.col("event_id") % 7 == 0, F.concat(F.lit("u"), uid)).otherwise(uid),
                F.lit("amount"),
                F.floor(F.col("value") * 100).cast("string"),
                F.lit("active"),
                F.when(F.col("user_id") % 2 == 0, F.lit("true")).otherwise(F.lit("false")),
                F.lit("note"),
                F.col("event_type"),
            ).alias("value_map"),
        )

    def cdc_map_payload(spark, sf):
        """Declared-type MAP parse: whitelisted fields cast to declared types,
        uncastable values → TYPE_MISMATCH errant (DefaultEventParser.java:
        73-108 + 144-149)."""
        from kafka_connect_tablestore_spark.operators.payloads import parse_map_payload

        out = parse_map_payload(
            _map_events(spark, sf),
            CFG,
            declared={"user_id": "long", "amount": "double", "note": "string"},
        )
        return out.select("event_id", "user_id", "amount", "note", "error_info")

    def cdc_map_payload_dynamic(spark, sf):
        """Dynamic (no-whitelist) MAP parse, tall: per-value type mapping
        Number→double, Boolean→boolean, else string
        (ColumnCoverterUtil.java:79-92)."""
        from kafka_connect_tablestore_spark.operators.payloads import explode_map_payload

        return explode_map_payload(_map_events(spark, sf), ("event_id",))

    def cdc_string_payload(spark, sf):
        """Raw STRING payload → single attribute column named ``value``
        (DefaultEventParser.java:233-237)."""
        from kafka_connect_tablestore_spark.operators.payloads import parse_string_payload

        e = _events(spark, sf).select(
            F.col("event_id").cast("long").alias("event_id"),
            F.concat(F.col("event_type"), F.lit(":"), F.col("event_id").cast("string")).alias("payload"),
        )
        return parse_string_payload(e, "payload", side="value")

    def cdc_key_value_merge(spark, sf):
        """Kafka-shaped key/value structs → flat event columns: PK from the
        key struct (pk_mode=record_key), attribute bag = value fields then
        key fields with key overwriting on clash at the value-side position
        (LinkedHashMap putAll order), PK names never in the bag
        (DefaultEventParser.java:107-214)."""
        from kafka_connect_tablestore_spark.operators.payloads import parse_key_value

        e = _events(spark, sf)
        df = e.select(
            F.col("event_id").cast("long").alias("offset"),
            F.struct(
                F.concat(F.lit("r"), (F.col("user_id") % 50).cast("string")).alias("repo"),
                F.concat(F.lit("p"), (F.col("event_id") % 20).cast("string")).alias("path"),
                F.concat(F.lit("K:"), F.col("event_type")).alias("shared"),
            ).alias("key"),
            F.struct(
                F.lit("value-side-ignored").alias("repo"),
                F.col("event_type").alias("commit"),
                F.concat(F.lit("V:"), F.col("event_type")).alias("shared"),
                F.col("props").alias("note"),
            ).alias("value"),
        )
        cfg = SinkConfig(pk_mode=PrimaryKeyMode.RECORD_KEY)
        return parse_key_value(df, cfg)

    def pipe_dedup_exact(spark, sf):
        return dedup_exact(_docs(spark, sf, par=False))

    def pipe_minhash_signatures(spark, sf):
        return minhash_signatures(_docs(spark, sf), n_hashes=8)

    def pipe_lsh_pairs(spark, sf):
        return minhash_lsh_pairs(_docs(spark, sf), n_hashes=8, bands=4).select(
            "doc_a", "doc_b", F.col("n_match").cast("long").alias("n_match")
        )

    def pipe_lsh_pairs_capped(spark, sf):
        """Hot-bucket-capped LSH candidates: (band, band_key) buckets larger
        than 2 docs are dropped before the self-join (the 100-TB
        boilerplate guard; at sf0.01 this prunes the size-3 buckets, so
        the pair set is a strict subset of pipe_lsh_pairs)."""
        return minhash_lsh_pairs(
            _docs(spark, sf, par=False), n_hashes=8, bands=4, max_bucket=2
        ).select("doc_a", "doc_b", F.col("n_match").cast("long").alias("n_match"))

    def pipe_simhash(spark, sf):
        return simhash(_docs(spark, sf), bits=32)

    def pipe_ngram_jaccard(spark, sf):
        return ngram_jaccard_pairs(_docs(spark, sf), k=3, n_hashes=8, bands=4)

    def pipe_word_entropy(spark, sf):
        from kafka_connect_tablestore_spark.functions.text import doc_word_entropy

        return doc_word_entropy(_docs(spark, sf))

    def pipe_stratified_sample(spark, sf):
        from kafka_connect_tablestore_spark.functions.text import stratified_sample

        return stratified_sample(
            _docs(spark, sf, par=False).select("doc_id", "lang", "text"),
            "lang",
            {"en": 0.5, "de": 0.25, "fr": 0.1},
            "doc_id",
        )

    def pipe_simhash_neardup(spark, sf):
        from kafka_connect_tablestore_spark.operators.dedup import (
            simhash_neardup_pairs,
        )

        return simhash_neardup_pairs(_docs(spark, sf), max_hamming=3)

    def pipe_text_quality(spark, sf):
        d = _docs(spark, sf)
        return d.select(
            "doc_id",
            token_count("text").cast("long").alias("n_tokens"),
            F.ceil(F.length("text") / F.lit(4)).cast("long").alias("est_bpe_tokens"),
            F.round(stopword_ratio("text", "en"), 4).alias("stopword_ratio"),
            F.round(alpha_ratio("text"), 4).alias("alpha_ratio"),
        )

    def pipe_lang_id(spark, sf):
        d = _docs(spark, sf)
        s = lang_scores("text")
        guess = (
            F.when((s["en"] >= s["de"]) & (s["en"] >= s["fr"]), F.lit("en"))
            .when(s["de"] >= s["fr"], F.lit("de"))
            .otherwise(F.lit("fr"))
        )
        return d.select("doc_id", guess.alias("lang_guess"))

    def pipe_fingerprint(spark, sf):
        return _docs(spark, sf).select(
            "doc_id", doc_fingerprint("text").alias("fp")
        )

    def pipe_ann_brute(spark, sf):
        emb = _emb(spark, sf)
        return brute_force_topk(emb, emb.where(F.col("vec_id") < 5), k=5)

    def pipe_ann_lsh(spark, sf):
        emb = _emb(spark, sf)
        return ann_lsh_topk(emb, emb.where(F.col("vec_id") < 5), k=5)

    def pipe_ann_lsh_probe(spark, sf):
        """Multi-probe LSH ANN: each query probes its own bucket plus the
        two 1-bit-flip neighbors in the first two sign planes — recall up,
        corpus side untouched."""
        emb = _emb(spark, sf)
        return ann_lsh_topk(emb, emb.where(F.col("vec_id") < 5), k=5, probe_bits=2)

    def pipe_ann_pq(spark, sf):
        """Product-quantization ANN (asymmetric distance): corpus compressed
        to m=4 code indices over 16-dim subspaces, queries exact, score =
        cosine against the reconstruction."""
        from kafka_connect_tablestore_spark.operators.similarity import (
            ann_pq_topk,
        )

        emb = _emb(spark, sf)
        return ann_pq_topk(
            emb, emb.where(F.col("vec_id") < 5), k=5, m=4, n_codes=16, dim=64
        )

    def pipe_embedding_neardup(spark, sf):
        # threshold tuned to the synthetic embeddings (max pairwise cosine
        # ≈ 0.51): 0.35 yields a non-empty, oracle-verified pair set —
        # round 1's 0.9 returned zero rows, proving nothing.
        return embedding_neardup_pairs(_emb(spark, sf), threshold=0.35)

    def pipe_ann_ivf(spark, sf):
        emb = _emb(spark, sf)
        return ann_ivf_topk(emb, emb.where(F.col("vec_id") < 5), k=5)

    def pipe_ann_ivfpq(spark, sf):
        """Spherical IVFADC one-shot query (round-5 residual encoding):
        coarse cells prune the scan, residual PQ codes carry the score —
        the composed production ANN shape, here with the deterministic
        'first' trainers so the DuckDB twin runs the identical math."""
        from kafka_connect_tablestore_spark.operators.similarity import (
            ann_ivfpq_topk,
        )

        emb = _emb(spark, sf)
        return ann_ivfpq_topk(
            emb, emb.where(F.col("vec_id") < 5), k=5, n_cells=16, m=4,
            n_codes=16, dim=64, nprobe=2, train="first", encode="residual",
        )

    def pipe_semantic_dedup(spark, sf):
        """SemDeDup-style: IVF-quantize the embedding space, drop vectors
        with a smaller-id cell-mate at cosine >= 0.3 (threshold tuned to the
        synthetic embeddings so the dominated set is non-empty)."""
        from kafka_connect_tablestore_spark.operators.similarity import (
            semantic_dedup,
        )

        return semantic_dedup(_emb(spark, sf), threshold=0.3, n_cells=16)

    def pipe_neardup_clusters(spark, sf):
        from kafka_connect_tablestore_spark.operators.clustering import dedup_neardup

        return dedup_neardup(_docs(spark, sf), jaccard_threshold=0.8)

    def pipe_clean_corpus(spark, sf):
        """Composed training-data pipeline: exact-dedup survivors that pass
        quality gates (length + alphanumeric ratio) in the target language —
        the end-to-end shape of a corpus-cleaning job."""
        d = _docs(spark, sf)
        survivors = dedup_exact(d).select(F.col("keep_id").alias("doc_id"))
        s = lang_scores("text")
        en = (s["en"] >= s["de"]) & (s["en"] >= s["fr"])
        scored = d.select(
            "doc_id",
            token_count("text").cast("long").alias("n_tokens"),
            F.round(alpha_ratio("text"), 4).alias("alpha_ratio"),
            en.alias("is_en"),
        )
        return (
            survivors.join(scored, "doc_id")
            .where((F.col("n_tokens") >= 10) & (F.col("alpha_ratio") >= 0.5) & F.col("is_en"))
            .select("doc_id", "n_tokens", "alpha_ratio")
        )

    def pipe_decontaminate(spark, sf):
        """Train-test contamination check: per-doc fraction of distinct
        3-shingles colliding with the benchmark set (a deterministic
        ``doc_id % 31 == 0`` slice standing in for a held-out eval set)."""
        from kafka_connect_tablestore_spark.operators.decontam import (
            benchmark_overlap,
        )

        d = _docs(spark, sf)
        bench = d.where(F.col("doc_id") % 31 == 0)
        return benchmark_overlap(d, bench, k=3, threshold=0.5)

    def pipe_repetition(spark, sf):
        from kafka_connect_tablestore_spark.functions.text import repetition_scores

        return repetition_scores(_docs(spark, sf))

    def pipe_tfidf_topk(spark, sf):
        from kafka_connect_tablestore_spark.functions.text import tfidf_topk

        return tfidf_topk(_docs(spark, sf, par=False), k=3)

    def pipe_unigram_ppl(spark, sf):
        from kafka_connect_tablestore_spark.functions.text import (
            unigram_perplexity,
        )

        return unigram_perplexity(_docs(spark, sf))

    def pipe_multimodal_features(spark, sf):  # mapInPandas plumbing (no SQL)
        d = _docs(spark, sf, par=False).select(
            F.col("doc_id").alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit("application/octet-stream").alias("mime"),
            F.length("text").cast("long").alias("n_bytes"),
            F.encode("text", "UTF-8").alias("payload"),
        )
        return decode_and_featurize(d, fake=True).select(
            "media_id", "kind", "width", "height", "payload_sha256"
        )

    def cdc_scd2_history(spark, sf):
        """History leg: SCD-type-2 version intervals from the change log —
        every non-DELETE change becomes a version row with
        [valid_from, valid_to) bounds (DELETEs close intervals), so
        ``WHERE valid_from <= t AND (valid_to IS NULL OR valid_to > t)``
        reconstructs the table as of any t without replaying the log.
        One per-key window shuffle."""
        return scd2_history(_log(spark, sf))

    def cdc_asof_enrich(spark, sf):
        """Event-time state lookup: enrich each purchase event with the
        dimension state AS OF its own timestamp (latest change with
        ts <= fact_ts; a DELETE in effect yields nulls).  Implemented as
        union + per-key last-ignorenulls window — ONE key shuffle, no
        range join.  The fact's key deliberately differs from its own
        changelog row (path from 7*event_id+3) so the lookup reads real
        history, not itself."""
        e = _events(spark, sf)
        facts = e.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("offset"),
            F.concat(
                F.lit("repo_"), F.pmod(F.col("user_id"), F.lit(40)).cast("string")
            ).alias("repo"),
            F.concat(
                F.lit("src/f"),
                F.pmod(F.col("event_id") * 7 + 3, F.lit(25)).cast("string"),
                F.lit(".py"),
            ).alias("path"),
            F.expr(
                "timestampdiff(MILLISECOND, timestamp_ntz'1970-01-01 00:00:00', "
                "cast(ts as timestamp_ntz))"
            ).alias("fact_ts"),
        )
        return asof_enrich(facts, _log(spark, sf))

    def cdc_snapshot_diff(spark, sf):
        """Changefeed leg: final state at offset ≤ 5000 vs full replay,
        emitted as INSERT/UPDATE/DELETE row changes (Iceberg-changelog-style
        incremental read, computed relationally)."""
        log = _log(spark, sf)

        def state(l):
            clean, _ = split_errant(validate_and_classify(l, CFG, ATTRS))
            return merge_into_state(None, clean, CFG, ATTRS).select(
                "repo", "path", "commit", "lang", "content"
            )

        old = state(log.where(F.col("offset") <= 5000))
        return snapshot_diff(old, state(log))

    def cdc_point_in_time(spark, sf):
        """Time travel without replaying the whole log: the table AS OF the
        corpus-time midpoint = the final-state fold of the time prefix —
        the replay-side dual of the SCD2 interval lookup (the oracle
        reconstructs the same state declaratively from version intervals).
        The bound is a broadcast scalar aggregate (no driver round-trip);
        the ts filter sits on the scan where manifest/row-group stats
        prune."""
        log = log_asof_prefix(_log(spark, sf), fraction=0.5)
        clean, _ = split_errant(validate_and_classify(log, CFG, ATTRS))
        return merge_into_state(None, clean, CFG, ATTRS).select(
            "repo", "path", "commit", "lang", "content"
        )

    def cdc_replay_idempotent(spark, sf):
        """Exactly-once as a batch invariant: redeliver a slice of the log
        (every 5th offset — an at-least-once consumer retry), collapse by
        the manifest's record identity (topic, partition, offset), fold —
        the result must hash-equal the clean replay, proving duplicated
        delivery cannot change table state."""
        log = _log(spark, sf)
        dup = log.unionByName(log.where(F.pmod(F.col("offset"), F.lit(5)) == 0))
        uniq = dedup_redelivered(dup)
        clean, _ = split_errant(validate_and_classify(uniq, CFG, ATTRS))
        return merge_into_state(None, clean, CFG, ATTRS).select(
            "repo", "path", "commit", "lang", "content",
            F.sha2(F.col("content"), 256).alias("content_sha256"),
        )

    def pipe_pii_redact(spark, sf):
        """PII redaction over text with deterministically synthesized PII
        (the corpus itself carries none — an unmodified input would verify
        nothing): every doc gains an email, every 3rd an IPv4, every 5th a
        card number, then the redactor must strike exactly those."""
        d = _docs(spark, sf)
        did = F.col("doc_id")
        aug = d.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" user"),
                did.cast("string"),
                F.lit("@mail.example.org"),
                F.when(
                    did % 3 == 0,
                    F.concat(
                        F.lit(" host 10."),
                        (did % 256).cast("string"),
                        F.lit(".0.1"),
                    ),
                ).otherwise(F.lit("")),
                F.when(did % 5 == 0, F.lit(" card 4111111111111111")).otherwise(
                    F.lit("")
                ),
            ).alias("text"),
        )
        return redact_pii(aug)

    def pipe_seq_pack(spark, sf):
        return pack_sequences(_docs(spark, sf), budget=128, n_groups=8)

    def pipe_mixture_sample(spark, sf):
        return mixture_sample(
            _docs(spark, sf, par=False), "lang", {"en": 50, "zh": 20, "de": 20, "fr": 10}
        )

    def pipe_chunk_dedup(spark, sf):
        return chunk_dedup(_docs(spark, sf), chunk_words=4)

    def pipe_global_shuffle(spark, sf):
        return global_shuffle(_docs(spark, sf, par=False), n_shards=16)

    def pipe_winnowing(spark, sf):
        from kafka_connect_tablestore_spark.operators.dedup import (
            winnowing_fingerprints,
        )

        return winnowing_fingerprints(_docs(spark, sf), k=3, window=4)

    def pipe_winnowing_overlap(spark, sf):
        from kafka_connect_tablestore_spark.operators.dedup import (
            winnowing_overlap_pairs,
        )

        return winnowing_overlap_pairs(
            _docs(spark, sf), k=3, window=4, min_shared=3, max_df=20
        )

    def pipe_url_domains(spark, sf):
        """Domain stats over deterministically synthesized URLs (the
        corpus text carries none): every doc gains one URL on a subdomain
        of one of 13 sites; every 4th doc a second URL on a shared CDN
        host; every 5th doc a URL under a ccTLD public suffix (.co.uk).
        The operator must normalize subdomains away per the embedded
        public-suffix table — ``store0.co.uk``..``store10.co.uk`` stay
        DISTINCT registrable domains (a naive last-two-label rule would
        merge them all into one bogus ``co.uk`` row)."""
        from kafka_connect_tablestore_spark.operators.corpus import (
            url_domain_stats,
        )

        return url_domain_stats(_docs_with_urls(spark, sf, par=False))

    def pipe_domain_cap(spark, sf):
        """Per-domain document caps over the same synthesized URLs as
        pipe_url_domains: each ~38-doc site domain and the ~125-doc shared
        CDN host get capped at 20 docs (hash-order selection), the ~9-doc
        .co.uk domains pass uncapped."""
        from kafka_connect_tablestore_spark.operators.corpus import cap_per_domain

        d = _docs(spark, sf)
        did = F.col("doc_id")
        aug = d.select(
            "doc_id",
            F.concat(
                F.lit("see https://sub"),
                (did % 7).cast("string"),
                F.lit(".site"),
                (did % 13).cast("string"),
                F.lit(".com/p/"),
                did.cast("string"),
            ).alias("text"),
        )
        return cap_per_domain(aug, max_docs=20)

    def pipe_gopher_quality(spark, sf):
        """Gopher/MassiveText composite quality rules over the documents
        table — every signal plus the composite keep verdict.  The
        synthetic corpus's vocabulary carries only 'the' from the Gopher
        required-word list, so the floor is 1 here (≥2 would make `keep`
        vacuously false and prove nothing); the word-count and
        mean-word-length windows then do the real splitting."""
        from kafka_connect_tablestore_spark.functions.text import (
            gopher_quality,
        )

        return gopher_quality(_docs(spark, sf), min_stop_hits=1)

    def pipe_url_dedup(spark, sf):
        """Canonicalize-then-dedup over deterministically synthesized messy
        URLs: each group of 4 consecutive docs observes ONE logical page
        under four crawl variants (param order, tracking params, fragment,
        uppercase scheme+host, explicit default port); every 9th doc sees
        a bare-host URL (empty path, explicit :80) and every 11th a
        schemeless junk string that must drop.  The operator must collapse
        each variant group to one row with the min doc_id and the variant
        count."""
        from kafka_connect_tablestore_spark.operators.corpus import url_dedup

        d = _docs(spark, sf, par=False)
        did = F.col("doc_id")
        g = F.floor(did / 4).cast("long")
        host = F.concat(
            F.lit("sub.site"), (g % 13).cast("string"), F.lit(".example.com")
        )
        page = F.concat(F.lit("/p/"), g.cast("string"))
        m = did % 4
        variant = (
            F.when(m == 0, F.concat(F.lit("https://"), host, page, F.lit("?b=2&a=1")))
            .when(
                m == 1,
                F.concat(
                    F.lit("HTTPS://"),
                    F.upper(host),
                    F.lit(":443"),
                    page,
                    F.lit("?a=1&b=2&utm_source=feed"),
                ),
            )
            .when(
                m == 2,
                F.concat(
                    F.lit("https://"), host, F.lit(":443"), page,
                    F.lit("?fbclid=xyz&a=1&b=2#frag"),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("https://"), host, page,
                    F.lit("?a=1&utm_campaign=c&b=2"),
                )
            )
        )
        url = (
            F.when(
                did % 9 == 0,
                F.concat(
                    F.lit("http://host"),
                    (did % 5).cast("string"),
                    F.lit(".example.org:80"),
                ),
            )
            .when(did % 11 == 0, F.lit("not a url"))
            .otherwise(variant)
        )
        return url_dedup(d.select("doc_id", url.alias("url")))

    def cdc_offset_gaps(spark, sf):
        """Continuity monitoring: re-number the log densely per partition,
        punch out every 97th offset, and the gap detector must report
        exactly those holes."""
        from pyspark.sql import Window

        from kafka_connect_tablestore_spark.operators.monitor import offset_gaps

        log = _log(spark, sf)
        w = Window.partitionBy("topic", "partition").orderBy("offset")
        dense = log.select(
            "topic",
            "partition",
            F.row_number().over(w).cast("long").alias("offset"),
        )
        return offset_gaps(dense.where(F.col("offset") % 97 != 0))

    def pipe_bigram_ppl(spark, sf):
        """Interpolated-bigram LM perplexity (lam=0.75, unigram backoff) —
        the transition-aware step past pipe_unigram_ppl: token soup with
        plausible unigrams but improbable word PAIRS scores high."""
        from kafka_connect_tablestore_spark.functions.text import (
            bigram_perplexity,
        )

        return bigram_perplexity(_docs(spark, sf))

    def pipe_canonical_docs(spark, sf):
        """Quality-aware near-dup dedup: cluster with LSH→Jaccard→CC, then
        keep the highest-alpha-ratio member per cluster (tie: min id) —
        the production survivor rule (keep the cleanest variant), replacing
        min-id with a partial-aggregable argmax."""
        from kafka_connect_tablestore_spark.functions.text import alpha_ratio
        from kafka_connect_tablestore_spark.operators.clustering import (
            canonical_docs,
        )

        return canonical_docs(
            _docs(spark, sf), alpha_ratio("text"), jaccard_threshold=0.8
        )

    def pipe_boilerplate_strip(spark, sf):
        """CCNet-style frequent-span removal: 4-word chunks appearing in
        >= 3 distinct docs are boilerplate, removed from EVERY doc."""
        from kafka_connect_tablestore_spark.operators.corpus import (
            strip_boilerplate,
        )

        return strip_boilerplate(
            _docs(spark, sf), chunk_words=4, min_df=3
        )

    def pipe_dsir_weights(spark, sf):
        """DSIR hashed-unigram importance log-weights (Xie et al. 2023):
        target distribution = the 'src0' slice, raw = the whole corpus;
        scoring is map-only over a constant-folded bucket-ratio map."""
        from kafka_connect_tablestore_spark.operators.corpus import (
            dsir_logweights,
        )

        docs = _docs(spark, sf)
        return dsir_logweights(
            docs, docs.where(F.col("source") == "src0"), n_buckets=64
        )

    def pipe_knn_graph(spark, sf):
        """Corpus k-NN graph: all-vectors top-k via the IVF cell equijoin
        (query side distributed, never broadcast — the ann_ivf_topk twin
        whose query set is the whole corpus)."""
        from kafka_connect_tablestore_spark.operators.similarity import (
            knn_graph,
        )

        return knn_graph(_emb(spark, sf), k=3, n_cells=16, nprobe=2)

    def pipe_graph_rank(spark, sf):
        """Seed-score diffusion over the corpus k-NN graph (personalized
        PageRank, 3 unrolled rounds): vectors 0-4 are the trusted seed set,
        their quality signal spreads to graph neighbors — the 'rank the
        crawl by similarity to curated data' curation move."""
        from kafka_connect_tablestore_spark.operators.clustering import (
            propagate_scores,
        )
        from kafka_connect_tablestore_spark.operators.similarity import (
            knn_graph,
        )

        emb = _emb(spark, sf)
        seeds = emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("id"), F.lit(1.0).alias("score")
        )
        edges = knn_graph(emb, k=3, n_cells=16, nprobe=2)
        return propagate_scores(edges, seeds, n_iter=3, alpha=0.5)

    def pipe_source_scorecard(spark, sf):
        """Per-source corpus health report: volume, token supply, exact-dup
        rate, mean alpha ratio — the mixture-weight decision table."""
        from kafka_connect_tablestore_spark.operators.corpus import (
            source_scorecard,
        )

        return source_scorecard(_docs(spark, sf))

    def _cross_split(spark, sf, par=True):
        """Parity split of documents: odd ids = the NEW crawl, even ids =
        the PRIOR corpus (deterministic, mirrored in the SQL twins)."""
        d = _docs(spark, sf, par=par)
        return (
            d.where(F.col("doc_id") % 2 == 1),
            d.where(F.col("doc_id") % 2 == 0),
        )

    def pipe_cross_exact(spark, sf):
        """Exact cross-corpus dedup: per NEW doc, is its normalized content
        already anywhere in the PRIOR corpus (fingerprint semi-probe)."""
        from kafka_connect_tablestore_spark.operators.dedup import (
            cross_dedup_exact,
        )

        new, prior = _cross_split(spark, sf, par=False)
        return cross_dedup_exact(new, prior)

    def pipe_cross_neardup(spark, sf):
        """Near-dup cross-corpus verdict: bipartite LSH candidates → exact
        Jaccard → per-new-doc best prior match + threshold verdict."""
        from kafka_connect_tablestore_spark.operators.dedup import (
            cross_neardup,
        )

        new, prior = _cross_split(spark, sf)
        return cross_neardup(new, prior, threshold=0.5)

    def pipe_dup_spans(spark, sf):
        """ExactSubstr-style duplicated-span coverage: every 5-word window
        hashed, windows in ≥2 distinct docs are duplicated, per-doc
        coverage is the exact interval-union sweep (Lee et al. 2022)."""
        from kafka_connect_tablestore_spark.operators.dedup import (
            dup_span_coverage,
        )

        return dup_span_coverage(_docs(spark, sf), n=5, min_df=2)

    def pipe_bloom_dedup(spark, sf):
        """Bloom-gated cross-corpus verdict: per NEW doc, probe the PRIOR
        corpus's broadcast bitset (m=2048 bits, k=2 — sized small so the
        gate's false-positive path executes).  One-sided: false means
        definitely new (no false negatives)."""
        from kafka_connect_tablestore_spark.operators.dedup import bloom_dedup

        new, prior = _cross_split(spark, sf, par=False)
        return bloom_dedup(new, prior, m_bits=2048, k=2)

    def pipe_bloom_verified(spark, sf):
        """Bloom gate + exact confirmation join of only the flagged docs —
        the production composition; equals cross_dedup_exact bit-for-bit."""
        from kafka_connect_tablestore_spark.operators.dedup import bloom_dedup

        new, prior = _cross_split(spark, sf, par=False)
        return bloom_dedup(new, prior, m_bits=2048, k=2, verify=True)

    def pipe_lsh_plan(spark, sf):
        """MinHash-LSH (bands, rows) planner: s-curve FP/FN masses for every
        divisor split of 128 hashes at threshold 0.8, argmin flagged."""
        from kafka_connect_tablestore_spark.operators.dedup import (
            lsh_parameter_plan,
        )

        return lsh_parameter_plan(spark, n_hashes=128, threshold=0.8)

    def pipe_doc_chunks(spark, sf):
        """Sliding-window document chunking: 64-word windows every 48 words
        (16-word overlap), no zero-new-content tail chunks."""
        from kafka_connect_tablestore_spark.operators.corpus import (
            chunk_documents,
        )

        return chunk_documents(_docs(spark, sf), max_words=64, stride=48)

    def pipe_bpe_merges(spark, sf):
        """Top adjacent-character-pair counts over pre-tokenized pieces —
        BPE training's first-merge statistic."""
        from kafka_connect_tablestore_spark.functions.text import (
            bpe_pair_counts,
        )

        return bpe_pair_counts(_docs(spark, sf), topk=20)

    def pipe_bpe_train(spark, sf):
        """Distributed BPE merge training: corpus reduced once to the
        vocabulary table, then 5 merge rounds on vocab-sized data only."""
        from kafka_connect_tablestore_spark.functions.text import (
            train_bpe_merges,
        )

        return train_bpe_merges(_docs(spark, sf), n_merges=5)

    def pipe_bpe_apply(spark, sf):
        """Apply the corpus-trained merges: per-doc real subword counts via
        the segmented VOCAB joined back on the word key (never re-segmenting
        occurrences)."""
        from kafka_connect_tablestore_spark.functions.text import bpe_segment

        return bpe_segment(_docs(spark, sf, par=False), n_merges=5)

    def pipe_repetition_full(spark, sf):
        """Complete Gopher repetition table over pages synthesized with
        planted repetition: a shared boilerplate line (duplicated on
        doc_id % 4 == 0 — dup-line signals), and the doc's own opening
        span repeated within one line on doc_id % 3 == 0 (dup-5..10-gram
        signals without touching the line metrics)."""
        from kafka_connect_tablestore_spark.functions.text import (
            gopher_repetition,
        )

        d = _docs(spark, sf)
        did = F.col("doc_id")
        l1 = F.substring(F.col("text"), 1, 80)
        l2 = F.concat(
            F.lit("this boilerplate sentence repeats verbatim across documents "),
            (did % 5).cast("string"),
        )
        l3 = F.substring(F.col("text"), 1, 60)
        aug = d.select(
            "doc_id",
            F.concat_ws(
                "\n",
                l1,
                l2,
                F.when(did % 4 == 0, l2),
                F.when(did % 3 == 0, F.concat(l3, F.lit(" "), l3)),
            ).alias("text"),
        )
        return gopher_repetition(aug)

    def pipe_c4_clean(spark, sf):
        """C4-style line-level page cleaning over deterministically
        synthesized multi-line pages (the corpus text is single-line — an
        unaugmented input would exercise nothing): per page, four lines of
        varying quality plus planted 'javascript' lines, 'lorem ipsum'
        pages, and '{' pages on fixed doc_id residues."""
        from kafka_connect_tablestore_spark.operators.corpus import c4_clean

        d = _docs(spark, sf)
        did = F.col("doc_id")
        aug = d.select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.concat(F.substring(F.col("text"), 1, 40), F.lit(" end.")),
                F.when(did % 3 == 0, F.lit("short line")).otherwise(
                    F.lit("this second line carries plenty of words to retain!")
                ),
                F.when(
                    did % 5 == 0,
                    F.lit("enable javascript to view this page properly now."),
                ).otherwise(
                    F.concat(
                        F.lit("doc "),
                        did.cast("string"),
                        F.lit(" closing sentence with enough words here?"),
                    )
                ),
                F.when(did % 7 == 0, F.lit("lorem ipsum dolor")).otherwise(
                    F.lit("final good line with the required word count.")
                ),
                F.when(did % 11 == 0, F.lit("code { block")).otherwise(F.lit("")),
            ).alias("text"),
        )
        return c4_clean(aug, min_line_words=5, min_lines=3)

    def pipe_lang_ngram(spark, sf):
        """Char-trigram language ID with deterministically mixed-in German
        and French runs (doc_id % 3 picks the contamination language; the
        base synthetic text stays English-ish)."""
        from kafka_connect_tablestore_spark.functions.text import ngram_lang_id

        d = _docs(spark, sf)
        did = F.col("doc_id")
        aug = d.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(
                    did % 3 == 1,
                    F.expr(
                        "repeat(' der schnelle ich und die einsicht geschichte', 3)"
                    ),
                ).otherwise(F.lit("")),
                F.when(
                    did % 3 == 2,
                    F.expr(
                        "repeat(' les questions que nous la mesure des choses', 3)"
                    ),
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
        return ngram_lang_id(aug)

    def pipe_quality_classifier(spark, sf):
        """Linear quality-classifier head (deterministic stand-in weights)
        over the Gopher signal vector — the FineWeb-Edu/DCLM model-scoring
        stage shape: per-doc features -> sigmoid score -> keep threshold."""
        from kafka_connect_tablestore_spark.functions.text import (
            quality_classifier_score,
        )

        return quality_classifier_score(_docs(spark, sf))

    def pipe_semantic_decontam(spark, sf):
        """Embedding-level benchmark decontamination: every 17th corpus
        vector doubles as a benchmark item (so its self-match plants an
        exact cos=1.0 contamination hit); tau=0.9 flags those plus any
        true near-duplicates."""
        from kafka_connect_tablestore_spark.operators.decontam import (
            semantic_decontaminate,
        )

        e = _emb(spark, sf)
        bench = e.where(F.col("vec_id") % 17 == 0)
        return semantic_decontaminate(e, bench, tau=0.9)

    def pipe_script_detect(spark, sf):
        """Writing-system profile with deterministically mixed-in Cyrillic /
        CJK / Arabic runs (the corpus is ASCII — unmodified input would
        verify nothing): per doc, letter counts per script block, dominant
        script (first-wins ties), dominant share."""
        from kafka_connect_tablestore_spark.functions.text import script_profile

        d = _docs(spark, sf)
        did = F.col("doc_id")
        aug = d.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.expr("repeat(' пример текста', cast(doc_id % 3 as int) * 25)"),
                F.expr("repeat(' 中文样本', cast(doc_id % 5 as int) * 15)"),
                F.when(did % 7 == 0, F.lit(" مثال")).otherwise(F.lit("")),
            ).alias("text"),
        )
        return script_profile(aug)

    def pipe_token_histogram(spark, sf):
        """Power-of-two histogram of per-doc token counts — the sequence-
        packing / batch-shaping distribution; ~64 output rows at any corpus
        size, share via a 1-row broadcast total."""
        from kafka_connect_tablestore_spark.functions.text import token_histogram

        return token_histogram(_docs(spark, sf))

    def pipe_ppl_buckets(spark, sf):
        """CCNet head/middle/tail perplexity split: thresholds from a
        hash-ranked 256-doc sample (exact discrete quantiles), bucket
        assignment map-only — no global ntile window."""
        from kafka_connect_tablestore_spark.functions.text import (
            perplexity_buckets,
        )

        return perplexity_buckets(_docs(spark, sf), n_buckets=3, sample_size=256)

    def pipe_mixture_plan(spark, sf):
        """Token-budget recipe table: per-source supply, target share,
        target tokens, and implied epochs for a 1M-token budget."""
        from kafka_connect_tablestore_spark.operators.corpus import (
            mixture_plan,
        )

        return mixture_plan(
            _docs(spark, sf, par=False), {"src0": 6.0, "src1": 3.0, "src2": 1.0},
            1_000_000, group_col="source",
        )

    def pipe_bpe_tokens(spark, sf):
        """Token-budget accounting: whitespace count + GPT-2-style
        pre-tokenizer subword estimate, both pure-Catalyst map-only."""
        from kafka_connect_tablestore_spark.functions.text import (
            bpe_token_count,
            token_count,
        )

        return _docs(spark, sf).select(
            "doc_id",
            token_count("text").cast("long").alias("n_ws_tokens"),
            bpe_token_count("text").alias("n_bpe_tokens"),
        )

    def pipe_top_ngrams(spark, sf):
        """Corpus-wide top-20 trigrams by document frequency — the
        boilerplate-discovery aggregate feeding strip_boilerplate's
        min_df choice."""
        from kafka_connect_tablestore_spark.functions.text import top_ngrams

        return top_ngrams(_docs(spark, sf), k=3, topk=20)

    def pipe_containment(spark, sf):
        """Shingle containment |A∩B|/min(|A|,|B|) on LSH candidates —
        catches wrapper/quote near-dups that size-penalized Jaccard
        misses."""
        from kafka_connect_tablestore_spark.operators.dedup import (
            containment_pairs,
        )

        return containment_pairs(_docs(spark, sf), k=3, n_hashes=8, bands=4)

    def pipe_temperature_rates(spark, sf):
        """XLM-R temperature sampling (alpha=0.5): per-language token
        shares and the implied keep rates — sqrt of exact BIGINT ratios,
        bit-identical across engines."""
        from kafka_connect_tablestore_spark.operators.corpus import (
            temperature_rates,
        )

        return temperature_rates(_docs(spark, sf), "lang", alpha=0.5)

    def pipe_temperature_sample(spark, sf):
        """Apply the temperature rates as a deterministic hash gate —
        broadcast rate plan, map-only filter, zero corpus shuffles."""
        from kafka_connect_tablestore_spark.operators.corpus import (
            temperature_sample,
        )

        return temperature_sample(_docs(spark, sf), "lang", alpha=0.5)

    def cdc_sessionize(spark, sf):
        """Gap-based sessionization of the event stream (30-min gap):
        lag + running-sum window, then a same-key rollup."""
        from kafka_connect_tablestore_spark.operators.timeseries import (
            sessionize,
        )

        s = sessionize(_events(spark, sf), gap_seconds=1800)
        # epoch-µs longs, not raw timestamps, per the windowed-counts
        # convention — keeps the cross-engine value hash timezone-proof
        epoch_us = (
            "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', "
            "cast({} as timestamp_ntz))"
        )
        return s.select(
            "user_id",
            "session_seq",
            F.expr(epoch_us.format("session_start")).alias("start_us"),
            F.expr(epoch_us.format("session_end")).alias("end_us"),
            "n_events",
            "total_value",
        )

    def cdc_incremental_agg(spark, sf):
        """Incremental materialized-view maintenance: the per-(repo, lang)
        row-count/byte view at offset ≤ 5000 is advanced to full-replay
        state by applying ONLY the changefeed delta (retract pre-image,
        assert post-image) — the base table is never re-aggregated.  The
        oracle is the full recompute over the final state, so a hash match
        proves delta application converges to ground truth."""
        from kafka_connect_tablestore_spark.operators.changefeed import (
            maintain_aggregate,
        )

        log = _log(spark, sf)
        clean, _ = split_errant(validate_and_classify(log, CFG, ATTRS))
        # the prior state feeds THREE consumers (the tail fold, the base
        # aggregate, and the diff's pre-image side); without materialization
        # each re-runs the full validate+fold.  Lazy localCheckpoint:
        # computed once inside this query's own job, nothing persists
        # across invocations.
        old_state = merge_into_state(
            None, clean.where(F.col("offset") <= 5000), CFG, ATTRS
        ).localCheckpoint(eager=False)
        # the engine's real incremental path: fold the tail INTO the prior
        # state (plans/merge.py), not a from-scratch replay
        new_state = merge_into_state(
            old_state, clean.where(F.col("offset") > 5000), CFG, ATTRS
        )
        base = old_state.groupBy("repo", "lang").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.coalesce(F.length("content"), F.lit(0)))
            .cast("long")
            .alias("content_bytes"),
        )
        changes = snapshot_diff(old_state, new_state, include_old=True)
        return maintain_aggregate(base, changes, ("repo", "lang"))

    def cdc_lag_stats(spark, sf):
        """Per-partition event-time disorder profile (watermark sizing):
        how many events arrive with commit_ts behind the partition's
        running maximum, and by how much."""
        from kafka_connect_tablestore_spark.operators.monitor import (
            arrival_stats,
        )

        return arrival_stats(_log(spark, sf))

    def pipe_ann_recall(spark, sf):
        """Recall@k harness: IVF ANN judged against exact brute force,
        per query — the accept metric for any approximate index."""
        from kafka_connect_tablestore_spark.operators.similarity import (
            topk_recall,
        )

        emb = _emb(spark, sf)
        q5 = emb.where(F.col("vec_id") < 5)
        return topk_recall(
            brute_force_topk(emb, q5, k=5), ann_ivf_topk(emb, q5, k=5)
        )

    # Enumeration order is the contract with the driver's correctness gate,
    # which covers a fixed prefix of the registry (50 queries per round vs
    # 105 entries).  Queries whose implementation changed most recently — or
    # that the gate has never reached — enumerate FIRST so every change gets
    # a driver verdict the round it lands; long-stable CDC queries absorb
    # any budget truncation at the tail.
    def cdc_bootstrap_handoff(spark, sf):
        """Initial-snapshot bootstrap → incremental-tail cutover with an
        at-least-once overlap (every 3rd prefix event redelivered into the
        tail): fold the time-prefix into a tombstone-retaining snapshot,
        MERGE the tail onto it — must hash-equal the single-pass fold of
        the full log (the oracle is exactly the final-state twin)."""
        from kafka_connect_tablestore_spark.operators.changefeed import (
            bootstrap_handoff,
        )

        res = bootstrap_handoff(
            _log(spark, sf), CFG, ATTRS, fraction=0.5, redeliver_every=3
        )
        return res.select(
            "repo", "path", "commit", "lang", "content",
            F.sha2(F.col("content"), 256).alias("content_sha256"),
        )

    def cdc_churn_stats(spark, sf):
        """Per-repo change-log churn/lineage rollup: event volume, op mix,
        distinct paths and source partitions, active time span."""
        from kafka_connect_tablestore_spark.operators.monitor import churn_stats

        return churn_stats(_log(spark, sf))

    def pipe_len_quantiles(spark, sf):
        """Per-lang exact length/token quantile profile (the filter-sizing
        distribution table); same operator runs percentile_approx t-digest
        sketches at scale (exact=False)."""
        from kafka_connect_tablestore_spark.functions.text import (
            length_quantiles,
            token_count,
        )

        d = _docs(spark, sf).select(
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            token_count("text").cast("long").alias("n_tokens"),
        )
        return length_quantiles(d, ("n_chars", "n_tokens"), by="lang")

    def pipe_vocab_growth(spark, sf):
        """Heaps-law vocabulary growth at fixed doc-id checkpoints —
        first-seen word aggregate + broadcast inequality join, never a
        running distinct."""
        from kafka_connect_tablestore_spark.functions.text import vocab_growth

        return vocab_growth(_docs(spark, sf))

    def pipe_novelty(spark, sf):
        """Per-doc 3-gram novelty (distinct shingles first seen in this
        doc vs total) — the incremental-crawl freshness score."""
        from kafka_connect_tablestore_spark.operators.dedup import ngram_novelty

        return ngram_novelty(_docs(spark, sf, par=False), k=3)

    def pipe_split_leakage(spark, sf):
        """Cross-split contamination audit: LSH near-dup pairs (>= 6 of 8
        matching minhashes) whose two sides land in DIFFERENT hash_split
        splits — the leak a deterministic split does not prevent.  The
        split labels are recomputed inline from the pair ids
        (split_assign), so the audit adds zero joins beyond the LSH
        bucket join."""
        from kafka_connect_tablestore_spark.operators.corpus import split_leakage

        return split_leakage(
            _docs(spark, sf),
            {"train": 0.9, "val": 0.05, "test": 0.05},
            min_match=6,
        )

    def pipe_hash_split(spark, sf):
        """Deterministic train/val/test assignment: hash64(id,'split') %
        10000 against cumulative thresholds over SORTED labels — stable
        under repartitioning and appends, unlike randomSplit."""
        from kafka_connect_tablestore_spark.operators.corpus import hash_split

        return hash_split(
            _docs(spark, sf), {"train": 0.9, "val": 0.05, "test": 0.05}
        ).select("doc_id", "split")

    def pipe_blocklist(spark, sf):
        """Domain-blocklist verdict over the same synthesized URLs as
        pipe_url_domains: one .com site, the shared CDN host, and one
        ccTLD registrant are blocked; every doc gets a (doc_id, blocked)
        row via the broadcast semi-join gate."""
        from kafka_connect_tablestore_spark.operators.corpus import (
            filter_blocked_domains,
        )

        return filter_blocked_domains(
            _docs_with_urls(spark, sf),
            ["site3.com", "shared.net", "store7.co.uk"],
        )

    q.update(
        # ---- round-6 gate prefix ---------------------------------------
        # 1) the 14 entries the driver's 50-slot gate has NEVER verified
        #    (VERDICT r6 directive 3 — all locally green at sf0.01+sf0.1),
        # 2) every operator this optimization round touched, so each
        #    change earns a driver verdict the round it lands.  The tail
        #    absorbs any budget truncation; the whole registry stays
        #    locally certified (scripts/check_oracle.py 105/105).
        pipe_url_dedup=pipe_url_dedup,  # never driver-gated (VERDICT r6 #3)
        pipe_dsir_weights=pipe_dsir_weights,  # never driver-gated
        pipe_graph_rank=pipe_graph_rank,  # never driver-gated; r6: lazy propagate checkpoints
        pipe_source_scorecard=pipe_source_scorecard,  # never driver-gated
        pipe_bloom_verified=pipe_bloom_verified,  # never driver-gated
        pipe_script_detect=pipe_script_detect,  # never driver-gated
        pipe_mixture_plan=pipe_mixture_plan,  # never driver-gated
        pipe_bpe_tokens=pipe_bpe_tokens,  # never driver-gated
        pipe_top_ngrams=pipe_top_ngrams,  # never driver-gated
        pipe_temperature_rates=pipe_temperature_rates,  # never driver-gated
        pipe_temperature_sample=pipe_temperature_sample,  # never driver-gated
        cdc_incremental_agg=cdc_incremental_agg,  # never driver-gated; r6: state checkpoint
        cdc_lag_stats=cdc_lag_stats,  # never driver-gated
        pipe_ann_recall=pipe_ann_recall,  # never driver-gated; r6: inherits ANN rewrites
        pipe_ann_ivfpq=pipe_ann_ivfpq,  # r6: literal/let rewrite + probed-cell prune + fused trainer
        pipe_ann_pq=pipe_ann_pq,  # r6: literal/let rewrite + cc lookups
        pipe_ann_ivf=pipe_ann_ivf,  # r6: literal/let rewrite
        pipe_ann_lsh=pipe_ann_lsh,  # r6: plane literal + let binding
        pipe_ann_lsh_probe=pipe_ann_lsh_probe,  # r6: plane literal + let binding
        pipe_ann_brute=pipe_ann_brute,  # r6: scan parallelizer on _emb
        pipe_knn_graph=pipe_knn_graph,  # r6: literal/let rewrite + scan parallelizer
        pipe_embedding_neardup=pipe_embedding_neardup,  # r6: plane literal + let binding
        pipe_semantic_dedup=pipe_semantic_dedup,  # r6: fused fixpoint rounds
        pipe_semantic_decontam=pipe_semantic_decontam,  # r6: shares the rewritten assign/score path
        pipe_bpe_train=pipe_bpe_train,  # r6: literal-pair trainer rounds
        pipe_bpe_apply=pipe_bpe_apply,  # r6: literal-pair trainer rounds
        pipe_bpe_merges=pipe_bpe_merges,  # r6: scan parallelizer
        pipe_dup_spans=pipe_dup_spans,  # r6: gram frame computed once
        pipe_ppl_buckets=pipe_ppl_buckets,  # r6: perplexity frame computed once
        pipe_lang_ngram=pipe_lang_ngram,  # r6: scan parallelizer (3.7 s -> 0.4 s)
        pipe_repetition_full=pipe_repetition_full,  # r6: scan parallelizer
        pipe_canonical_docs=pipe_canonical_docs,  # r6: fused CC rounds + member checkpoint
        pipe_neardup_clusters=pipe_neardup_clusters,  # r6: fused CC rounds
        pipe_ngram_jaccard=pipe_ngram_jaccard,  # r6: scan parallelizer
        pipe_cross_neardup=pipe_cross_neardup,  # r6: scan parallelizer
        pipe_cross_exact=pipe_cross_exact,  # r6: par opt-out (measured)
        pipe_lsh_pairs=pipe_lsh_pairs,  # r6: scan parallelizer
        pipe_lsh_pairs_capped=pipe_lsh_pairs_capped,  # r6: par opt-out (measured)
        pipe_minhash_signatures=pipe_minhash_signatures,  # r6: scan parallelizer
        pipe_simhash=pipe_simhash,  # r6: scan parallelizer
        pipe_simhash_neardup=pipe_simhash_neardup,  # r6: scan parallelizer
        pipe_winnowing=pipe_winnowing,  # r6: scan parallelizer
        pipe_winnowing_overlap=pipe_winnowing_overlap,  # r6: scan parallelizer
        pipe_containment=pipe_containment,  # r6: scan parallelizer
        pipe_split_leakage=pipe_split_leakage,  # r6: scan parallelizer
        pipe_pii_redact=pipe_pii_redact,  # r6: scan parallelizer (plan-audit relaxation)
        pipe_stratified_sample=pipe_stratified_sample,  # r6: par opt-out (plan-audit)
        pipe_multimodal_features=pipe_multimodal_features,  # r6: par opt-out (measured)
        pipe_novelty=pipe_novelty,  # r6: par opt-out (measured)
        pipe_bloom_dedup=pipe_bloom_dedup,  # r6: par opt-out (measured)
        # ---- unchanged this round (locally certified; gate tail) ------
        pipe_hash_split=pipe_hash_split,
        pipe_blocklist=pipe_blocklist,
        cdc_bootstrap_handoff=cdc_bootstrap_handoff,
        cdc_churn_stats=cdc_churn_stats,
        pipe_len_quantiles=pipe_len_quantiles,
        pipe_vocab_growth=pipe_vocab_growth,
        cdc_point_in_time=cdc_point_in_time,
        cdc_replay_idempotent=cdc_replay_idempotent,
        cdc_scd2_history=cdc_scd2_history,
        cdc_asof_enrich=cdc_asof_enrich,
        cdc_snapshot_diff=cdc_snapshot_diff,
        pipe_lsh_plan=pipe_lsh_plan,
        pipe_doc_chunks=pipe_doc_chunks,
        pipe_c4_clean=pipe_c4_clean,
        pipe_quality_classifier=pipe_quality_classifier,
        pipe_token_histogram=pipe_token_histogram,
        pipe_boilerplate_strip=pipe_boilerplate_strip,
        cdc_sessionize=cdc_sessionize,
        pipe_bigram_ppl=pipe_bigram_ppl,
        pipe_gopher_quality=pipe_gopher_quality,
        cdc_timeseries_transform=cdc_timeseries_transform,
        pipe_domain_cap=pipe_domain_cap,
        pipe_url_domains=pipe_url_domains,
        pipe_unigram_ppl=pipe_unigram_ppl,
        pipe_decontaminate=pipe_decontaminate,
        cdc_map_payload_dynamic=cdc_map_payload_dynamic,
        cdc_final_state=cdc_final_state,
        cdc_dlq_split=cdc_dlq_split,
        cdc_projection_whitelist=cdc_projection_whitelist,
        cdc_lww_window=cdc_lww_window,
        cdc_lww_maxby=cdc_lww_maxby,
        cdc_lww_salted=cdc_lww_salted,
        cdc_final_state_colmode=cdc_final_state_colmode,
        cdc_tombstone_filter=cdc_tombstone_filter,
        cdc_pk_kafka=cdc_pk_kafka,
        cdc_pk_search=cdc_pk_search,
        cdc_routing=cdc_routing,
        cdc_type_cast=cdc_type_cast,
        cdc_windowed_counts=cdc_windowed_counts,
        cdc_map_payload=cdc_map_payload,
        cdc_string_payload=cdc_string_payload,
        cdc_key_value_merge=cdc_key_value_merge,
        pipe_dedup_exact=pipe_dedup_exact,
        pipe_word_entropy=pipe_word_entropy,
        pipe_text_quality=pipe_text_quality,
        pipe_lang_id=pipe_lang_id,
        pipe_fingerprint=pipe_fingerprint,
        pipe_clean_corpus=pipe_clean_corpus,
        pipe_repetition=pipe_repetition,
        pipe_tfidf_topk=pipe_tfidf_topk,
        pipe_seq_pack=pipe_seq_pack,
        pipe_mixture_sample=pipe_mixture_sample,
        pipe_chunk_dedup=pipe_chunk_dedup,
        pipe_global_shuffle=pipe_global_shuffle,
        cdc_offset_gaps=cdc_offset_gaps,
    )
    return q


# --------------------------------------------------------------------------
# oracle SQL (DuckDB)
# --------------------------------------------------------------------------

LOG = f"log AS ({CHANGELOG_FROM_EVENTS_SQL})"

#: canonical word/shingle/hash SQL fragments (must mirror functions/text.py)
W = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"
)
H = lambda expr, seed: f"('0x' || substr(md5('{seed}|' || {expr}), 1, 15))::BIGINT"  # noqa: E731
SHINGLES = (
    f"list_transform(generate_series(1, len({W}) - 2), "
    f"i -> {W}[i] || ' ' || {W}[i+1] || ' ' || {W}[i+2])"
)
FP = "md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))"

_LWW_SQL = f"""
WITH {LOG}
SELECT topic, "partition", "offset", commit_ts, op, repo, path, "commit", lang, content
FROM log
QUALIFY row_number() OVER (
  PARTITION BY repo, path ORDER BY commit_ts DESC, "offset" DESC) = 1
"""

# the fold (insert per-record op, delete.mode=row): see plans/merge.py.
# Parameterized over the source CTE so the snapshot-diff oracle can fold two
# log prefixes inside one query.
def _fold_ctes(src: str, suf: str = "") -> str:
    return f"""o{suf} AS (
  SELECT *, commit_ts * 1000000 + "offset" AS ord,
         CASE WHEN op <> 'UPDATE' THEN commit_ts * 1000000 + "offset" END AS bar_o,
         CASE WHEN op = 'UPDATE' THEN commit_ts * 1000000 + "offset" END AS upd_o
  FROM {src}
), g{suf} AS (
  SELECT repo, path,
    max(bar_o) AS bar_ord,
    arg_max(op, bar_o) AS bar_op,
    arg_max("commit", bar_o) AS bar_commit,
    arg_max(lang, bar_o) AS bar_lang,
    arg_max(content, bar_o) AS bar_content,
    max(upd_o) AS upd_ord,
    arg_max("commit", CASE WHEN op='UPDATE' AND "commit" IS NOT NULL THEN ord END) AS lnn_commit,
    max(CASE WHEN op='UPDATE' AND "commit" IS NOT NULL THEN ord END) AS lnn_ord_commit,
    arg_max(lang, CASE WHEN op='UPDATE' AND lang IS NOT NULL THEN ord END) AS lnn_lang,
    max(CASE WHEN op='UPDATE' AND lang IS NOT NULL THEN ord END) AS lnn_ord_lang,
    arg_max(content, CASE WHEN op='UPDATE' AND content IS NOT NULL THEN ord END) AS lnn_content,
    max(CASE WHEN op='UPDATE' AND content IS NOT NULL THEN ord END) AS lnn_ord_content
  FROM o{suf} GROUP BY repo, path
), state{suf} AS (
SELECT repo, path,
  CASE WHEN lnn_ord_commit IS NOT NULL AND (bar_ord IS NULL OR lnn_ord_commit > bar_ord)
       THEN lnn_commit WHEN bar_op = 'PUT' THEN bar_commit END AS "commit",
  CASE WHEN lnn_ord_lang IS NOT NULL AND (bar_ord IS NULL OR lnn_ord_lang > bar_ord)
       THEN lnn_lang WHEN bar_op = 'PUT' THEN bar_lang END AS lang,
  CASE WHEN lnn_ord_content IS NOT NULL AND (bar_ord IS NULL OR lnn_ord_content > bar_ord)
       THEN lnn_content WHEN bar_op = 'PUT' THEN bar_content END AS content
FROM g{suf}
WHERE bar_ord IS NULL OR bar_op = 'PUT' OR upd_ord > bar_ord
)"""


_FINAL_STATE_SQL = f"""
WITH {LOG}, {_fold_ctes("log")}
SELECT repo, path, "commit", lang, content,
       sha256(content) AS content_sha256
FROM state
"""

_SNAPSHOT_DIFF_SQL = f"""
WITH {LOG},
old_log AS (SELECT * FROM log WHERE "offset" <= 5000),
{_fold_ctes("old_log", "_old")},
{_fold_ctes("log", "_new")}
SELECT * FROM (
  SELECT
    COALESCE(n.repo, o.repo) AS repo,
    COALESCE(n.path, o.path) AS path,
    CASE WHEN o.repo IS NULL THEN 'INSERT'
         WHEN n.repo IS NULL THEN 'DELETE'
         WHEN (o."commit" IS DISTINCT FROM n."commit")
           OR (o.lang IS DISTINCT FROM n.lang)
           OR (o.content IS DISTINCT FROM n.content) THEN 'UPDATE' END AS change_op,
    n."commit" AS "commit", n.lang AS lang, n.content AS content
  FROM state_old o FULL OUTER JOIN state_new n
    ON o.repo = n.repo AND o.path = n.path
) WHERE change_op IS NOT NULL
"""

# corpus-assembly oracles (operators/corpus.py). PII: the same deterministic
# augmentation as the Spark query, then the identical regex chain (patterns
# restricted to the Java-regex ∩ RE2 common subset).
_PII_REDACT_SQL = f"""
WITH aug AS (
  SELECT doc_id,
    text || ' user' || CAST(doc_id AS VARCHAR) || '@mail.example.org'
      || CASE WHEN doc_id % 3 = 0
              THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
              ELSE '' END
      || CASE WHEN doc_id % 5 = 0 THEN ' card 4111111111111111' ELSE '' END
      AS text
  FROM documents
), s1 AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
    regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g') AS t1
  FROM aug
), s2 AS (
  SELECT doc_id, n_emails,
    CAST(len(regexp_extract_all(t1, '{IPV4_RE}')) AS BIGINT) AS n_ips,
    regexp_replace(t1, '{IPV4_RE}', '<IP>', 'g') AS t2
  FROM s1
)
SELECT doc_id, n_emails, n_ips,
  CAST(len(regexp_extract_all(t2, '{LONGNUM_RE}')) AS BIGINT) AS n_longnums,
  regexp_replace(t2, '{LONGNUM_RE}', '<NUM>', 'g') AS redacted
FROM s2
"""

_SEQ_PACK_SQL = f"""
WITH base AS (
  SELECT doc_id,
    CAST({H("CAST(doc_id AS VARCHAR)", "pack")} % 8 AS INT) AS pack_group,
    CAST(coalesce(len({W}), 0) AS BIGINT) AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, pack_group, n_tokens,
    sum(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens AS start
  FROM base
)
SELECT doc_id, pack_group, n_tokens,
  CAST(floor(start / 128) AS BIGINT) AS bin_id,
  CAST(start % 128 AS BIGINT) AS start_offset
FROM cum
"""

_MIXTURE_SQL = f"""
WITH targets AS (
  SELECT * FROM (VALUES ('de', 20), ('en', 50), ('fr', 10), ('zh', 20))
    t(lang, grp_pct)
), counts AS (
  -- seeded from the FULL target list (absent group ⇒ grp_n = 0 ⇒ T = 0),
  -- mirroring the Spark operator's targets-left-join — a dataset missing a
  -- targeted lang must empty the mixture, not renormalize it
  SELECT t.lang, coalesce(c.grp_n, 0) AS grp_n, t.grp_pct
  FROM targets t LEFT JOIN (
    SELECT lang, count(*) AS grp_n FROM documents
    WHERE lang IN ('en','zh','de','fr') GROUP BY lang
  ) c ON t.lang = c.lang
), q AS (
  SELECT lang, grp_n, grp_pct,
    CAST(floor(grp_n * 100 / grp_pct) AS BIGINT) AS grp_t
  FROM counts
), plan AS (
  SELECT lang, grp_n,
    CAST(floor(grp_pct * (SELECT min(grp_t) FROM q) / 100) AS BIGINT) AS grp_k
  FROM q
)
SELECT d.doc_id, d.lang
FROM documents d JOIN plan p ON d.lang = p.lang
WHERE ({H("CAST(doc_id AS VARCHAR)", "mix")} % 1000000) * p.grp_n
      < p.grp_k * 1000000
"""

_CHUNK_DEDUP_SQL = f"""
WITH base AS (
  SELECT doc_id, {W} AS w FROM documents
), ch AS (
  SELECT doc_id,
    CASE WHEN len(w) > 0 AND w[1] <> '' THEN
      list_transform(generate_series(1, CAST(ceil(len(w) / 4.0) AS INT)),
        i -> array_to_string(list_slice(w, (i-1)*4 + 1, least(i*4, len(w))), ' '))
    ELSE [] END AS chunks
  FROM base
), ex AS (
  SELECT doc_id, generate_subscripts(chunks, 1) - 1 AS pos,
         unnest(chunks) AS chunk
  FROM ch
), marked AS (
  SELECT doc_id, pos, chunk,
    row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, pos) = 1 AS kept
  FROM ex
), agg AS (
  SELECT doc_id,
    CAST(count(chunk) AS BIGINT) AS n_chunks,
    CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
    md5(coalesce(string_agg(CASE WHEN kept THEN chunk END, ' ' ORDER BY pos), ''))
      AS clean_md5
  FROM marked GROUP BY doc_id
)
-- chunk-less docs (null/empty text ⇒ unnest([]) emits no rows) re-enter
-- with zeros and md5('') — mirrors the Spark operator's final left join,
-- so a future dataset with empty docs can't fake a mismatch
SELECT d.doc_id,
  coalesce(a.n_chunks, 0) AS n_chunks,
  coalesce(a.n_kept, 0) AS n_kept,
  coalesce(a.clean_md5, md5('')) AS clean_md5
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""

_BOILERPLATE_SQL = f"""
WITH base AS (
  SELECT doc_id, {W} AS w FROM documents
), ch AS (
  SELECT doc_id,
    CASE WHEN len(w) > 0 AND w[1] <> '' THEN
      list_transform(generate_series(1, CAST(ceil(len(w) / 4.0) AS INT)),
        i -> array_to_string(list_slice(w, (i-1)*4 + 1, least(i*4, len(w))), ' '))
    ELSE [] END AS chunks
  FROM base
), ex AS (
  SELECT doc_id, generate_subscripts(chunks, 1) - 1 AS pos,
         unnest(chunks) AS chunk
  FROM ch
), freq AS (
  SELECT md5(chunk) AS cm, count(DISTINCT doc_id) AS df_ FROM ex GROUP BY 1
), marked AS (
  SELECT e.doc_id, e.pos, e.chunk, (f.df_ >= 3) AS boiler
  FROM ex e JOIN freq f ON md5(e.chunk) = f.cm
), agg AS (
  SELECT doc_id,
    CAST(count(chunk) AS BIGINT) AS n_chunks,
    CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
    md5(coalesce(string_agg(CASE WHEN NOT boiler THEN chunk END, ' ' ORDER BY pos), ''))
      AS clean_md5
  FROM marked GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(a.n_chunks, 0) AS n_chunks,
  coalesce(a.n_removed, 0) AS n_removed,
  coalesce(a.clean_md5, md5('')) AS clean_md5
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""

_DSIR_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({W}) AS w FROM documents
), tb AS (
  SELECT doc_id, {H("w", "dsir")} % 64 AS b FROM tok
), raw AS (
  SELECT b, count(*) AS n FROM tb GROUP BY b
), tgt AS (
  SELECT t.b, count(*) AS n
  FROM tb t JOIN documents d ON t.doc_id = d.doc_id
  WHERE d.source = 'src0' GROUP BY t.b
), buckets AS (
  SELECT unnest(generate_series(0, 63)) AS b
), logw AS (
  SELECT bu.b,
    ln(coalesce(t.n, 0) + 1.0)
      - ln((SELECT sum(n) FROM tgt) + 64.0)
      - ln(coalesce(r.n, 0) + 1.0)
      + ln((SELECT sum(n) FROM raw) + 64.0) AS lw
  FROM buckets bu
  LEFT JOIN tgt t ON bu.b = t.b
  LEFT JOIN raw r ON bu.b = r.b
), scored AS (
  SELECT t.doc_id, sum(l.lw) AS s
  FROM tb t JOIN logw l ON t.b = l.b GROUP BY t.doc_id
)
SELECT d.doc_id,
  CAST(len({W}) AS BIGINT) AS n_tokens,
  round(coalesce(s.s, 0.0), 4) AS dsir_logweight
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""

_SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, ts, event_id, value, epoch_us(ts) AS us FROM events
), lagd AS (
  SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM e
), flag AS (
  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                 THEN 1 ELSE 0 END AS is_new
  FROM lagd
), seq AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flag
)
SELECT user_id,
  CAST(session_seq AS BIGINT) AS session_seq,
  epoch_us(min(ts)) AS start_us,
  epoch_us(max(ts)) AS end_us,
  CAST(count(*) AS BIGINT) AS n_events,
  round(sum(value), 4) AS total_value
FROM seq GROUP BY user_id, session_seq
"""

_WINNOWING_SQL = f"""
WITH sh AS (
  SELECT doc_id, {SHINGLES} AS sh FROM documents
), hs AS (
  SELECT doc_id, list_transform(sh, s -> {H("s", "win")}) AS hs FROM sh
), wins AS (
  SELECT doc_id,
    CASE WHEN len(hs) >= 4 THEN
      list_transform(generate_series(1, len(hs) - 3), i -> list_min(hs[i:i+3]))
    WHEN len(hs) >= 1 THEN [list_min(hs)]
    ELSE [] END AS w
  FROM hs
)
SELECT doc_id, unnest(list_distinct(w)) AS fp FROM wins
"""

_DUP_SPANS_SQL = f"""
WITH w AS (
  SELECT doc_id, {W} AS w FROM documents
), g AS (
  SELECT doc_id, unnest(generate_series(1, len(w) - 4)) AS pos, w
  FROM w WHERE len(w) >= 5
), h AS (
  SELECT doc_id, pos,
    {H("w[pos] || ' ' || w[pos+1] || ' ' || w[pos+2] || ' ' || w[pos+3] || ' ' || w[pos+4]", "dss")} AS h
  FROM g
), dup AS (
  SELECT h FROM h GROUP BY h HAVING count(DISTINCT doc_id) >= 2
), dpos AS (
  SELECT doc_id, pos FROM h WHERE h IN (SELECT h FROM dup)
), sweep AS (
  SELECT doc_id, pos,
    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM dpos
), agg AS (
  SELECT doc_id,
    CAST(count(*) AS BIGINT) AS dup_windows,
    CAST(sum(CASE WHEN prev IS NULL THEN 5
                  ELSE least(5, pos - prev) END) AS BIGINT) AS dup_words
  FROM sweep GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(len({W}) AS BIGINT) AS n_words,
  coalesce(a.dup_windows, 0) AS dup_windows,
  coalesce(a.dup_words, 0) AS dup_words,
  round(coalesce(a.dup_words, 0) / len({W}), 4) AS dup_coverage
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""

_WINNOWING_OVERLAP_SQL = f"""
WITH sh AS (
  SELECT doc_id, {SHINGLES} AS sh FROM documents
), hs AS (
  SELECT doc_id, list_transform(sh, s -> {H("s", "win")}) AS hs FROM sh
), wins AS (
  SELECT doc_id,
    CASE WHEN len(hs) >= 4 THEN
      list_transform(generate_series(1, len(hs) - 3), i -> list_min(hs[i:i+3]))
    WHEN len(hs) >= 1 THEN [list_min(hs)]
    ELSE [] END AS w
  FROM hs
), fps AS (
  SELECT doc_id, unnest(list_distinct(w)) AS fp FROM wins
), capped AS (
  SELECT doc_id, fp FROM fps
  QUALIFY count(*) OVER (PARTITION BY fp) <= 20
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 3
"""

from kafka_connect_tablestore_spark.operators.corpus import (  # noqa: E402
    PUBLIC_SUFFIXES_2LABEL,
)

#: one suffix table, two engines: the IN-list below is generated from the
#: same PUBLIC_SUFFIXES_2LABEL tuple the Spark expression embeds.
_PSL_IN = ", ".join(f"'{s}'" for s in PUBLIC_SUFFIXES_2LABEL)

_URL_DOMAINS_SQL = (
    r"""
WITH aug AS (
  SELECT doc_id,
    text || ' see https://sub' || CAST(doc_id % 7 AS VARCHAR)
         || '.site' || CAST(doc_id % 13 AS VARCHAR)
         || '.com/p/' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 4 = 0 THEN ' and http://cdn.shared.net/x'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' or https://shop' || CAST(doc_id % 3 AS VARCHAR)
                      || '.store' || CAST(doc_id % 11 AS VARCHAR) || '.co.uk/y'
                 ELSE '' END AS text
  FROM documents
), ex AS (
  SELECT doc_id,
    unnest(regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)(/[^\s]*)?', 1))
      AS host
  FROM aug
), parts AS (
  SELECT doc_id, regexp_replace(lower(host), '\.+$', '') AS host,
    string_split(regexp_replace(lower(host), '\.+$', ''), '.') AS p FROM ex
  WHERE host IS NOT NULL
), dom AS (
  SELECT DISTINCT doc_id,
    CASE WHEN regexp_matches(host, '^\d+(\.\d+)*$') THEN host
         WHEN len(p) >= 3 AND (p[-2] || '.' || p[-1]) IN ("""
    + _PSL_IN
    + r""")
         THEN p[-3] || '.' || p[-2] || '.' || p[-1]
         WHEN len(p) >= 2 THEN p[-2] || '.' || p[-1]
         ELSE host END AS domain
  FROM parts
)
SELECT domain, count(*) AS n_docs FROM dom GROUP BY domain
"""
)

#: blocklist twin: the url-domains CTE chain (aug → ex → parts → dom) reused
#: verbatim (rsplit strips only the final aggregate), plus the IN-list gate —
#: every document gets a verdict row, blocked iff ANY of its registrable
#: domains is listed.
_BLOCKLIST_SQL = (
    _URL_DOMAINS_SQL.rsplit("SELECT domain,", 1)[0]
    + """, blk AS (
  SELECT DISTINCT doc_id FROM dom
  WHERE domain IN ('site3.com', 'shared.net', 'store7.co.uk')
)
SELECT d.doc_id, (b.doc_id IS NOT NULL) AS blocked
FROM documents d LEFT JOIN blk b ON d.doc_id = b.doc_id
"""
)

# Gopher composite-quality twin: the identical per-row formulas over the
# word/line arrays, thresholds hard-coded to the query's parameters
# (min_words=50, mean-word-len [3,10], symbol ≤0.1, bullet ≤0.9,
# ellipsis ≤0.3, alpha ≥0.8, stop_hits ≥1).
_GOPHER_SQL = r"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS w,
         string_split(text, chr(10)) AS lines,
         text AS t
  FROM documents
), sig AS (
  SELECT doc_id,
    CAST(len(w) AS BIGINT) AS n_words,
    round(list_aggregate(list_transform(w, x -> length(x)), 'sum')
          / CAST(greatest(len(w), 1) AS DOUBLE), 4) AS mean_word_len,
    round(((length(t) - length(replace(t, '#', '')))
           + (length(t) - length(replace(t, '...', ''))) / 3.0)
          / CAST(greatest(len(w), 1) AS DOUBLE), 4) AS symbol_word_ratio,
    round(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))
          / CAST(greatest(len(lines), 1) AS DOUBLE), 4) AS bullet_line_frac,
    round(len(list_filter(lines, l -> regexp_matches(rtrim(l), '\.\.\.$')))
          / CAST(greatest(len(lines), 1) AS DOUBLE), 4) AS ellipsis_line_frac,
    round(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
          / CAST(greatest(len(w), 1) AS DOUBLE), 4) AS alpha_word_frac,
    CAST(  (CASE WHEN list_contains(w, 'the')  THEN 1 ELSE 0 END)
         + (CASE WHEN list_contains(w, 'be')   THEN 1 ELSE 0 END)
         + (CASE WHEN list_contains(w, 'to')   THEN 1 ELSE 0 END)
         + (CASE WHEN list_contains(w, 'of')   THEN 1 ELSE 0 END)
         + (CASE WHEN list_contains(w, 'and')  THEN 1 ELSE 0 END)
         + (CASE WHEN list_contains(w, 'that') THEN 1 ELSE 0 END)
         + (CASE WHEN list_contains(w, 'have') THEN 1 ELSE 0 END)
         + (CASE WHEN list_contains(w, 'with') THEN 1 ELSE 0 END)
      AS BIGINT) AS stop_hits
  FROM d
)
SELECT *,
  (n_words BETWEEN 50 AND 100000
   AND mean_word_len BETWEEN 3.0 AND 10.0
   AND symbol_word_ratio <= 0.1
   AND bullet_line_frac <= 0.9
   AND ellipsis_line_frac <= 0.3
   AND alpha_word_frac >= 0.8
   AND stop_hits >= 1) AS keep
FROM sig
"""

# URL canonicalize-then-dedup twin: the same synthesized variants, then
# the full canonicalization re-derived in SQL (fragment strip, scheme/host
# lowercase, default-port strip, empty path → '/', tracking-param filter,
# bytewise param sort) — an independent parser, not a shared expression.
_URL_DEDUP_SQL = r"""
WITH synth AS (
  SELECT doc_id,
    CASE
      WHEN doc_id % 9 = 0 THEN
        'http://host' || CAST(doc_id % 5 AS VARCHAR) || '.example.org:80'
      WHEN doc_id % 11 = 0 THEN 'not a url'
      ELSE
        CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN 'https://sub.site' || CAST((doc_id // 4) % 13 AS VARCHAR)
                      || '.example.com/p/' || CAST(doc_id // 4 AS VARCHAR)
                      || '?b=2&a=1'
          WHEN 1 THEN 'HTTPS://' || upper('sub.site'
                      || CAST((doc_id // 4) % 13 AS VARCHAR) || '.example.com')
                      || ':443/p/' || CAST(doc_id // 4 AS VARCHAR)
                      || '?a=1&b=2&utm_source=feed'
          WHEN 2 THEN 'https://sub.site' || CAST((doc_id // 4) % 13 AS VARCHAR)
                      || '.example.com:443/p/' || CAST(doc_id // 4 AS VARCHAR)
                      || '?fbclid=xyz&a=1&b=2#frag'
          ELSE 'https://sub.site' || CAST((doc_id // 4) % 13 AS VARCHAR)
               || '.example.com/p/' || CAST(doc_id // 4 AS VARCHAR)
               || '?a=1&utm_campaign=c&b=2'
        END
    END AS url
  FROM documents
), s AS (
  SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM synth
), p AS (
  SELECT doc_id,
    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(u, '^[^:/?]+://([^/?]+)', 1)) AS hostport,
    regexp_extract(u, '^[^:/?]+://[^/?]+(/[^?]*)?', 1) AS rawpath,
    regexp_extract(u, '\?(.*)$', 1) AS q
  FROM s
), qs AS (
  SELECT *,
    array_to_string(list_sort(list_filter(string_split(q, '&'),
      x -> x <> '' AND NOT regexp_matches(x,
        '^(utm_[a-z]+|gclid|fbclid|msclkid|mc_eid|igshid|ref_src)='))),
      '&') AS qjoin
  FROM p
), c AS (
  SELECT doc_id,
    scheme || '://'
    || CASE WHEN scheme = 'http'  AND hostport LIKE '%:80'
            THEN substr(hostport, 1, length(hostport) - 3)
            WHEN scheme = 'https' AND hostport LIKE '%:443'
            THEN substr(hostport, 1, length(hostport) - 4)
            ELSE hostport END
    || CASE WHEN rawpath = '' THEN '/' ELSE rawpath END
    || CASE WHEN qjoin <> '' THEN '?' || qjoin ELSE '' END AS canon_url
  FROM qs
  WHERE scheme <> '' AND hostport <> ''
)
SELECT canon_url, min(doc_id) AS keep_id, count(*) AS n_variants
FROM c GROUP BY canon_url
"""

# SemDeDup twin: same centroid/assign CTEs as the IVF oracle, then the
# GREEDY keep-scan within each cell — a recursive CTE walks each cell's
# vectors in id order, carrying the survivor-id list, and admits a vector
# iff none of its smaller-id ≥-threshold neighbors is a CURRENT survivor
# (the survivor-restricted rule; a chain a–b–c keeps {a, c}).
_SEMANTIC_DEDUP_SQL = """
WITH RECURSIVE base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_idx, v AS c
  FROM (SELECT * FROM base ORDER BY vec_id LIMIT 16)
),
assign AS (
  SELECT vec_id, cell_idx,
    (list_dot_product(v, v) - (2.0 * list_dot_product(v, c))) + list_dot_product(c, c) AS dist
  FROM base CROSS JOIN cent
),
cells AS (
  SELECT vec_id, cell_idx AS cell FROM assign
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell_idx) = 1
),
av AS (
  SELECT base.vec_id, v, sqrt(list_dot_product(v, v)) AS n, cell
  FROM base JOIN cells USING (vec_id)
),
doms AS (
  SELECT b.vec_id, list(a.vec_id ORDER BY a.vec_id) AS dom_ids
  FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.n * b.n) >= 0.3
  GROUP BY b.vec_id
),
ordered AS (
  SELECT av.vec_id, cell,
    row_number() OVER (PARTITION BY cell ORDER BY av.vec_id) AS rn,
    coalesce(d.dom_ids, CAST([] AS BIGINT[])) AS dom_ids
  FROM av LEFT JOIN doms d ON av.vec_id = d.vec_id
),
scan(cell, rn, survivors) AS (
  SELECT cell, CAST(0 AS BIGINT), CAST([] AS BIGINT[])
  FROM (SELECT DISTINCT cell FROM ordered)
  UNION ALL
  SELECT o.cell, o.rn,
    CASE WHEN len(list_intersect(o.dom_ids, s.survivors)) = 0
         THEN list_append(s.survivors, o.vec_id) ELSE s.survivors END
  FROM scan s JOIN ordered o ON o.cell = s.cell AND o.rn = s.rn + 1
),
final_scan AS (
  SELECT cell, survivors FROM scan
  QUALIFY row_number() OVER (PARTITION BY cell ORDER BY rn DESC) = 1
)
SELECT o.vec_id, o.cell, list_contains(f.survivors, o.vec_id) AS is_survivor
FROM ordered o JOIN final_scan f ON o.cell = f.cell
"""

_DOMAIN_CAP_SQL = (
    r"""
WITH aug AS (
  SELECT doc_id,
    'see https://sub' || CAST(doc_id % 7 AS VARCHAR)
      || '.site' || CAST(doc_id % 13 AS VARCHAR)
      || '.com/p/' || CAST(doc_id AS VARCHAR) AS text
  FROM documents
), base AS (
  SELECT doc_id,
    regexp_extract(text, 'https?://([A-Za-z0-9.-]+)(/[^\s]*)?', 1) AS host,
    """
    + H("CAST(doc_id AS VARCHAR)", "domcap")
    + r""" AS h
  FROM aug
), dom AS (
  SELECT doc_id, h,
    CASE WHEN host = '' THEN NULL
         WHEN regexp_matches(host, '^\d+(\.\d+)*$') THEN host
         WHEN len(p) >= 3 AND (p[-2] || '.' || p[-1]) IN ("""
    + _PSL_IN
    + r""")
         THEN p[-3] || '.' || p[-2] || '.' || p[-1]
         WHEN len(p) >= 2 THEN p[-2] || '.' || p[-1]
         ELSE host END AS domain
  FROM (SELECT doc_id, h,
          regexp_replace(lower(host), '\.+$', '') AS host,
          string_split(regexp_replace(lower(host), '\.+$', ''), '.') AS p
        FROM base)
)
SELECT doc_id, domain,
  CASE WHEN domain IS NULL THEN TRUE
       ELSE row_number() OVER (PARTITION BY domain ORDER BY h, doc_id) <= 20
  END AS kept
FROM dom
"""
)

_OFFSET_GAPS_SQL = f"""
WITH {LOG}, dense AS (
  SELECT topic, "partition",
    row_number() OVER (PARTITION BY topic, "partition" ORDER BY "offset")
      AS "offset"
  FROM log
), holey AS (
  SELECT * FROM dense WHERE "offset" % 97 <> 0
), g AS (
  SELECT topic, "partition", "offset",
    lag("offset") OVER (PARTITION BY topic, "partition" ORDER BY "offset")
      AS prev
  FROM holey
)
SELECT topic, "partition",
  prev + 1 AS gap_start, "offset" - 1 AS gap_end,
  "offset" - prev - 1 AS missing
FROM g WHERE prev IS NOT NULL AND "offset" > prev + 1
"""

_GLOBAL_SHUFFLE_SQL = f"""
WITH k AS (
  SELECT doc_id, {H("CAST(doc_id AS VARCHAR)", "shuf")} AS key FROM documents
)
SELECT doc_id, CAST(key % 16 AS INT) AS shard,
  CAST(row_number() OVER (PARTITION BY key % 16 ORDER BY key, doc_id) AS BIGINT)
    AS pos
FROM k
"""

def _bands_sql_from(sig_cte: str) -> str:
    """Banded-signature SQL over a named signature CTE (band count 4)."""
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"CAST(h{2*b} AS VARCHAR) || '_' || CAST(h{2*b+1} AS VARCHAR) AS band_key, "
        f"h0,h1,h2,h3,h4,h5,h6,h7 FROM {sig_cte}"
        for b in range(4)
    )


_BANDS_SQL = _bands_sql_from("sig")

from kafka_connect_tablestore_spark.operators.dedup import (  # noqa: E402
    MINHASH_P,
    minhash_perm_coeffs,
)

_BASE_HS = f"list_transform({SHINGLES}, s -> {H('s', 'mh')} % {MINHASH_P})"
def _sig_sql_from(table: str) -> str:
    """MinHash-signature SQL over any table/CTE with (doc_id, text)."""
    return "SELECT doc_id, " + ", ".join(
        "list_min(list_transform({hs}, h -> (h * {a} + {b}) % {p})) AS h{j}".format(
            hs=_BASE_HS, a=minhash_perm_coeffs(j)[0],
            b=minhash_perm_coeffs(j)[1], p=MINHASH_P, j=j,
        )
        for j in range(8)
    ) + f" FROM {table}"


_SIG_SQL = _sig_sql_from("documents")

_LSH_PAIRS_CORE = f"""
sig AS ({_SIG_SQL}), banded AS ({_BANDS_SQL})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST({' + '.join(f'(CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END)' for j in range(8))} AS BIGINT) AS n_match
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
WHERE a.h0 IS NOT NULL
"""

#: capped twin of _LSH_PAIRS_CORE: buckets > max_bucket rows are excluded
#: BEFORE the self-join (the signature-less docs are excluded before the
#: count, exactly as the Spark side filters its input before signatures).
_LSH_PAIRS_CAPPED_SQL = f"""
WITH sig AS ({_SIG_SQL}), banded AS ({_BANDS_SQL}),
capped AS (
  SELECT * FROM banded WHERE h0 IS NOT NULL
  QUALIFY count(*) OVER (PARTITION BY band, band_key) <= 2
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST({' + '.join(f'(CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END)' for j in range(8))} AS BIGINT) AS n_match
FROM capped a JOIN capped b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""

#: split label as a pure function of an id expression — the DuckDB twin of
#: operators/corpus.py::split_assign at weights train .9 / val .05 / test .05
#: (sorted-label cumulative thresholds: test < 500, train < 9500, else val).
_SPLIT_CASE = lambda side: (  # noqa: E731
    "CASE WHEN " + H(f"CAST({side} AS VARCHAR)", "split")
    + " % 10000 < 500 THEN 'test' WHEN "
    + H(f"CAST({side} AS VARCHAR)", "split")
    + " % 10000 < 9500 THEN 'train' ELSE 'val' END"
)

#: cross-split near-dup audit: the LSH pair core, thresholded at 6/8
#: matching minhashes, each side's split recomputed from its id (no join
#: back to an assigned frame — mirrors the Spark side exactly).
_SPLIT_LEAK_SQL = f"""
WITH pairs AS (WITH {_LSH_PAIRS_CORE}),
tagged AS (
  SELECT doc_a, doc_b, n_match,
    {_SPLIT_CASE('doc_a')} AS split_a,
    {_SPLIT_CASE('doc_b')} AS split_b
  FROM pairs WHERE n_match >= 6
)
SELECT doc_a, doc_b, n_match, split_a, split_b
FROM tagged WHERE split_a <> split_b
"""

_SIMHASH_NEARDUP_SQL_TMPL = """
WITH sh AS ({sim} WHERE length(trim(text)) > 0),
banded AS (
  SELECT doc_id, simhash, b.band, (simhash >> (b.band * 8)) & 255 AS band_key
  FROM sh CROSS JOIN (VALUES (0), (1), (2), (3)) b(band)
)
SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
  CAST(bit_count(xor(a.simhash, c.simhash)) AS INT) AS hamming
FROM banded a JOIN banded c
  ON a.band = c.band AND a.band_key = c.band_key AND a.doc_id < c.doc_id
WHERE bit_count(xor(a.simhash, c.simhash)) <= 3
"""

_SIMHASH_SQL = (
    "SELECT doc_id, CAST("
    + " + ".join(
        f"(CASE WHEN list_sum(list_transform({W}, w -> "
        f"CASE WHEN ({H('w', 'sh')} >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(32)
    )
    + " AS BIGINT) AS simhash FROM documents"
)

_NGRAM_JACCARD_SQL = f"""
WITH sig AS ({_SIG_SQL}), banded AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE a.h0 IS NOT NULL
),
sh AS (SELECT doc_id, list_distinct({SHINGLES}) AS s FROM documents)
SELECT doc_a, doc_b,
  round(
    len(list_filter(x.s, e -> list_contains(y.s, e)))::DOUBLE
    / greatest(len(x.s) + len(y.s) - len(list_filter(x.s, e -> list_contains(y.s, e))), 1)::DOUBLE,
  4) AS jaccard
FROM cand JOIN sh x ON cand.doc_a = x.doc_id JOIN sh y ON cand.doc_b = y.doc_id
"""

_CONTAINMENT_SQL = f"""
WITH sig AS ({_SIG_SQL}), banded AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE a.h0 IS NOT NULL
),
sh AS (SELECT doc_id, list_distinct({SHINGLES}) AS s FROM documents)
SELECT doc_a, doc_b,
  round(
    len(list_filter(x.s, e -> list_contains(y.s, e)))::DOUBLE
    / greatest(least(len(x.s), len(y.s)), 1)::DOUBLE,
  4) AS containment
FROM cand JOIN sh x ON cand.doc_a = x.doc_id JOIN sh y ON cand.doc_b = y.doc_id
"""

# GPT-2-ish pretokenizer regex, SQL-quoted (apostrophes doubled; DuckDB
# standard strings pass backslashes through to RE2 untouched)
from kafka_connect_tablestore_spark.functions.text import (  # noqa: E402
    BPE_PRETOKEN_RE,
)

_BPE_RE_SQL = BPE_PRETOKEN_RE.replace("'", "''")
_BPE_TOKENS_SQL = f"""
SELECT doc_id, CAST(len({W}) AS BIGINT) AS n_ws_tokens,
  CAST(coalesce(list_sum(list_transform(
    list_filter(list_transform(
      regexp_extract_all(lower(coalesce(text, '')), '{_BPE_RE_SQL}'),
      p -> trim(p)), p -> p <> ''),
    p -> (length(p) + 3) // 4)), 0) AS BIGINT) AS n_bpe_tokens
FROM documents
"""

_TOP_NGRAMS_SQL = f"""
WITH g AS (SELECT doc_id, unnest({SHINGLES}) AS ngram FROM documents)
SELECT ngram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM g GROUP BY ngram
ORDER BY n_docs DESC, n_occurrences DESC, ngram ASC LIMIT 20
"""

#: parity split of ``documents`` for the cross-corpus queries — odd ids play
#: the NEW crawl, even ids the PRIOR corpus (deterministic, engine-portable).
_CROSS_SPLIT = (
    "newdocs AS (SELECT * FROM documents WHERE doc_id % 2 = 1), "
    "priordocs AS (SELECT * FROM documents WHERE doc_id % 2 = 0)"
)

_CROSS_EXACT_SQL = f"""
WITH {_CROSS_SPLIT},
pfp AS (SELECT DISTINCT {FP} AS fp FROM priordocs)
SELECT n.doc_id, {FP} AS fp, (p.fp IS NOT NULL) AS in_prior
FROM newdocs n LEFT JOIN pfp p ON {FP} = p.fp
"""

#: Bloom gate twin — same md5-hash positions math as the Spark bitset
#: (position_i = hash64(fp, 'bl<i>') mod m); membership = every probe
#: position present in the prior corpus's set-position set.
_BLOOM_M, _BLOOM_K = 2048, 2
_BLOOM_DEDUP_SQL = f"""
WITH {_CROSS_SPLIT},
pfp AS (SELECT DISTINCT {FP} AS fp FROM priordocs),
pos AS (
  SELECT DISTINCT {H('fp', 'bl0')} % {_BLOOM_M} AS p FROM pfp
  UNION
  SELECT DISTINCT {H('fp', 'bl1')} % {_BLOOM_M} AS p FROM pfp
),
nfp AS (SELECT doc_id, {FP} AS fp FROM newdocs),
probe AS (
  SELECT doc_id, fp,
    unnest([{H('fp', 'bl0')} % {_BLOOM_M}, {H('fp', 'bl1')} % {_BLOOM_M}]) AS p
  FROM nfp
)
SELECT doc_id, fp, bool_and(p IN (SELECT p FROM pos)) AS maybe_in_prior
FROM probe GROUP BY doc_id, fp
"""

#: Sliding-window chunking twin — 64-word windows every 48 words; last start
#: index = ceil((n-64)/48) when n > 64 else 0 (no zero-new-content tails).
_CHUNK_MAXW, _CHUNK_STRIDE = 64, 48
_DOC_CHUNKS_SQL = f"""
WITH meta AS (SELECT doc_id, {W} AS w, len({W})::INT AS n FROM documents),
spans AS (
  SELECT doc_id, w, n,
    unnest(generate_series(0,
      CASE WHEN n > {_CHUNK_MAXW}
        THEN (n - {_CHUNK_MAXW} + {_CHUNK_STRIDE} - 1) // {_CHUNK_STRIDE}
        ELSE 0 END))::INT AS chunk_id
  FROM meta
)
SELECT doc_id, chunk_id,
  (chunk_id * {_CHUNK_STRIDE})::INT AS start_word,
  least({_CHUNK_MAXW}, n - chunk_id * {_CHUNK_STRIDE})::INT AS n_words,
  array_to_string(
    list_slice(w, chunk_id * {_CHUNK_STRIDE} + 1,
               least(chunk_id * {_CHUNK_STRIDE} + {_CHUNK_MAXW}, n)), ' ')
    AS chunk_text
FROM spans
"""

#: LSH planner twin — pure math over generate_series, no tables; mirrors the
#: Spark planner's 6dp rounding and (cost, bands) argmin tie rule exactly.
_LSH_PLAN_N, _LSH_PLAN_T, _LSH_PLAN_G = 128, 0.8, 200
_LSH_PLAN_SQL = f"""
WITH splits AS (
  SELECT b::INT AS bands, ({_LSH_PLAN_N}//b)::INT AS rows_per_band
  FROM generate_series(1, {_LSH_PLAN_N}) t(b) WHERE {_LSH_PLAN_N} % b = 0
),
grid AS (
  SELECT (i + 0.5)/{_LSH_PLAN_G}.0 AS s
  FROM generate_series(0, {_LSH_PLAN_G - 1}) t(i)
),
curves AS (
  SELECT bands, rows_per_band,
    CASE WHEN s < {_LSH_PLAN_T}
      THEN 1 - pow(1 - pow(s, rows_per_band), bands) ELSE 0 END AS fpp,
    CASE WHEN s >= {_LSH_PLAN_T}
      THEN pow(1 - pow(s, rows_per_band), bands) ELSE 0 END AS fnp
  FROM splits, grid
),
scored AS (
  SELECT bands, rows_per_band,
    round(1 - pow(1 - pow({_LSH_PLAN_T}, rows_per_band), bands), 6)
      AS p_at_threshold,
    round(sum(fpp)/{_LSH_PLAN_G}, 6) AS fp_mass,
    round(sum(fnp)/{_LSH_PLAN_G}, 6) AS fn_mass,
    round(round(sum(fpp)/{_LSH_PLAN_G}, 6)
        + round(sum(fnp)/{_LSH_PLAN_G}, 6), 6) AS cost
  FROM curves GROUP BY bands, rows_per_band
),
best AS (
  SELECT cost AS bc, min(bands) AS bb FROM scored
  WHERE cost = (SELECT min(cost) FROM scored) GROUP BY cost
)
SELECT s.bands, s.rows_per_band, s.p_at_threshold, s.fp_mass, s.fn_mass,
  s.cost, (s.cost = b.bc AND s.bands = b.bb) AS is_best
FROM scored s, best b
"""

_CROSS_NEARDUP_SQL = f"""
WITH {_CROSS_SPLIT},
nsig AS ({_sig_sql_from('newdocs')}),
psig AS ({_sig_sql_from('priordocs')}),
nband AS ({_bands_sql_from('nsig')}),
pband AS ({_bands_sql_from('psig')}),
cand AS (
  SELECT DISTINCT n.doc_id AS doc_id, p.doc_id AS prior_id
  FROM nband n JOIN pband p
    ON n.band = p.band AND n.band_key = p.band_key
  WHERE n.h0 IS NOT NULL
),
sh AS (SELECT doc_id, list_distinct({SHINGLES}) AS s FROM documents),
scored AS (
  SELECT c.doc_id, c.prior_id,
    round(
      len(list_filter(x.s, e -> list_contains(y.s, e)))::DOUBLE
      / greatest(len(x.s) + len(y.s) - len(list_filter(x.s, e -> list_contains(y.s, e))), 1)::DOUBLE,
    4) AS j
  FROM cand c JOIN sh x ON c.doc_id = x.doc_id JOIN sh y ON c.prior_id = y.doc_id
),
best AS (
  SELECT doc_id, j, prior_id FROM scored
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY j DESC, prior_id ASC) = 1
)
SELECT d.doc_id, coalesce(b.j, 0.0) AS best_jaccard, b.prior_id,
  coalesce(b.j >= 0.5, false) AS is_dup
FROM newdocs d LEFT JOIN best b ON d.doc_id = b.doc_id
"""

_BPE_PAIRS_SQL = f"""
WITH pieces AS (
  SELECT doc_id,
    list_filter(list_transform(
      regexp_extract_all(lower(coalesce(text, '')), '{{re}}'),
      p -> trim(p)), p -> length(p) >= 2) AS ps
  FROM documents
),
g AS (
  SELECT doc_id, unnest(flatten(list_transform(ps,
    p -> list_transform(generate_series(1, length(p) - 1),
                        i -> substr(p, i, 2))))) AS pair
  FROM pieces
)
SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM g GROUP BY pair
ORDER BY n_occurrences DESC, n_docs DESC, pair ASC LIMIT 20
""".replace("{re}", _BPE_RE_SQL)

def _bpe_train_sql(n_merges: int = 5) -> str:
    """Fully-unrolled DuckDB twin of ``train_bpe_merges`` — one (pairs,
    best, vocab) CTE triple per merge round, the ``pipe_graph_rank``
    unrolling pattern.  The fold accumulator, the chr(1) separator, the
    boundary-anchored merge test, and the (freq DESC, pair ASC) tie rule
    mirror the Spark operator exactly."""
    _a = "string_split(b.pair, ' ')[1]"
    _b = "string_split(b.pair, ' ')[2]"
    ctes = [
        "v0 AS ("
        " SELECT word, cnt, list_transform(generate_series(1, length(word)),"
        " i -> substr(word, i, 1)) AS syms"
        " FROM (SELECT word, CAST(count(*) AS BIGINT) AS cnt"
        f"       FROM (SELECT unnest({W}) AS word FROM documents)"
        "       WHERE word <> '' AND strpos(word, chr(1)) = 0"
        "       GROUP BY word))"
    ]
    for r in range(1, n_merges + 1):
        ctes.append(
            f"p{r} AS ("
            " SELECT pair, CAST(sum(cnt) AS BIGINT) AS freq FROM ("
            "  SELECT cnt, unnest(CASE WHEN len(syms) >= 2 THEN"
            "   list_transform(generate_series(1, len(syms) - 1),"
            "    i -> syms[i] || ' ' || syms[i + 1])"
            "   ELSE [] END) AS pair"
            f"  FROM v{r - 1}) GROUP BY pair)"
        )
        ctes.append(
            f"b{r} AS (SELECT CAST({r} AS INT) AS rank, pair,"
            " replace(pair, ' ', '') AS new_token, freq"
            f" FROM p{r} ORDER BY freq DESC, pair ASC LIMIT 1)"
        )
        ctes.append(
            f"v{r} AS ("
            " SELECT word, cnt, string_split(list_reduce(syms, (acc, s) ->"
            f"  CASE WHEN s = {_b} AND (acc = {_a}"
            f"            OR ends_with(acc, chr(1) || {_a}))"
            "   THEN acc || s ELSE acc || chr(1) || s END), chr(1)) AS syms"
            f" FROM v{r - 1}, b{r} b)"
        )
    union = " UNION ALL ".join(f"SELECT * FROM b{r}" for r in range(1, n_merges + 1))
    return "WITH " + ", ".join(ctes) + " " + union


def _bpe_apply_sql(n_merges: int = 5) -> str:
    """Twin of ``bpe_segment``: the trainer's CTE chain (whose final
    ``v{n}`` table IS the fully-merged per-word segmentation), then one
    word-key join + per-doc rollup — the same vocab-not-corpus shape."""
    train = _bpe_train_sql(n_merges)
    # strip the trainer's trailing UNION of b-CTEs: the CTE list ends
    # right before the first bare SELECT
    cte_list = train[len("WITH "):train.index(" SELECT * FROM b1")]
    return (
        "WITH " + cte_list + ", occ AS ("
        f" SELECT doc_id, word FROM (SELECT doc_id, unnest({W}) AS word FROM documents)"
        " WHERE word <> '' AND strpos(word, chr(1)) = 0) "
        "SELECT d.doc_id,"
        " CAST(coalesce(t.cnt_w, 0) AS BIGINT) AS n_words,"
        " CAST(coalesce(t.sub_w, 0) AS BIGINT) AS n_subwords "
        "FROM documents d LEFT JOIN ("
        f" SELECT o.doc_id, count(*) AS cnt_w, sum(len(v.syms)) AS sub_w"
        f" FROM occ o JOIN v{n_merges} v ON o.word = v.word GROUP BY o.doc_id"
        ") t ON d.doc_id = t.doc_id"
    )


_TEMP_TOT_SQL = (
    f"SELECT lang, CAST(sum(len({W})) AS BIGINT) AS n_tokens "
    "FROM documents GROUP BY lang"
)
_TEMPERATURE_RATES_SQL = f"""
WITH tot AS ({_TEMP_TOT_SQL}),
f AS (SELECT min(n_tokens) AS mn, sum(n_tokens) AS sn FROM tot)
SELECT lang, n_tokens,
  round(n_tokens / sn, 6) AS share,
  round(sqrt(mn / n_tokens), 6) AS keep_rate
FROM tot, f
"""
_TEMPERATURE_SAMPLE_SQL = f"""
WITH tot AS ({_TEMP_TOT_SQL}),
f AS (SELECT min(n_tokens) AS mn FROM tot),
plan AS (SELECT lang, CAST(floor(sqrt(mn / n_tokens) * 1000000 + 0.5) AS BIGINT)
         AS g FROM tot, f)
SELECT d.doc_id, d.lang FROM documents d JOIN plan ON d.lang = plan.lang
WHERE {H("CAST(doc_id AS VARCHAR)", "temp")} % 1000000 < plan.g
"""

_G2 = f"list_transform(generate_series(1, len({W}) - 1), i -> {W}[i] || ' ' || {W}[i+1])"

_DECONTAM_SQL = f"""
WITH csh AS (
  SELECT doc_id, unnest(list_distinct({SHINGLES})) AS s FROM documents
),
ch AS (SELECT doc_id, {H('s', 'dc')} AS h FROM csh),
bh AS (SELECT DISTINCT {H('s', 'dc')} AS h FROM
       (SELECT unnest({SHINGLES}) AS s FROM documents WHERE doc_id % 31 = 0)),
agg AS (
  SELECT ch.doc_id, count(*) AS n_shingles,
         sum(CASE WHEN bh.h IS NOT NULL THEN 1 ELSE 0 END) AS n_shared
  FROM ch LEFT JOIN bh ON ch.h = bh.h GROUP BY ch.doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(n_shingles, 0) AS BIGINT) AS n_shingles,
  CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
  round(COALESCE(n_shared / CAST(n_shingles AS DOUBLE), 0.0), 4) AS contamination,
  COALESCE(round(n_shared / CAST(n_shingles AS DOUBLE), 4) >= 0.5, FALSE) AS contaminated
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
"""

_REPETITION_SQL = f"""
SELECT doc_id,
  CAST(len({W}) AS BIGINT) AS n_words,
  round(1.0 - len(list_distinct({W})) / CAST(len({W}) AS DOUBLE), 4) AS dup_word_frac,
  round(CASE WHEN len({W}) >= 2
        THEN 1.0 - len(list_distinct({_G2})) / CAST(len({_G2}) AS DOUBLE)
        ELSE 0.0 END, 4) AS dup_2gram_frac
FROM documents
"""

_TFIDF_SQL = f"""
WITH tf AS (
  SELECT doc_id, word, count(*) AS tf FROM
  (SELECT doc_id, unnest({W}) AS word FROM documents) GROUP BY doc_id, word
),
df_ AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
n AS (SELECT count(*) AS n FROM documents)
SELECT doc_id, CAST(row_number() OVER (
    PARTITION BY doc_id
    ORDER BY round(tf * ln(n.n / CAST(df_.df AS DOUBLE)), 4) DESC, word ASC
  ) AS INT) AS rank, word,
  round(tf * ln(n.n / CAST(df_.df AS DOUBLE)), 4) AS tfidf
FROM tf JOIN df_ USING (word) CROSS JOIN n
QUALIFY rank <= 3
"""

_UNIGRAM_PPL_SQL = f"""
WITH wc AS (
  SELECT doc_id, w AS word, count(*) AS tf
  FROM (SELECT doc_id, unnest({W}) AS w FROM documents)
  GROUP BY doc_id, w
),
model AS (SELECT word, sum(tf) AS cf FROM wc GROUP BY word),
tot AS (SELECT sum(cf) AS n_total FROM model)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
  round(exp(-sum(tf * ln(cf / n_total)) / sum(tf)), 4) AS unigram_ppl
FROM wc JOIN model USING (word) CROSS JOIN tot
GROUP BY doc_id
"""

#: head/middle/tail twin: same ppl CTE, thresholds from the hash-ranked
#: 256-row sample's sorted list at the exact discrete-quantile indices
#: ceil(b*n/3) (1-based), bucket = 1 + Σ_b [ppl > t_b] on the rounded value
_PPL_BUCKETS_SQL = f"""
WITH ppl AS ({_UNIGRAM_PPL_SQL}),
samp AS (
  SELECT unigram_ppl FROM ppl
  ORDER BY {H("CAST(doc_id AS VARCHAR)", "pplq")}, doc_id LIMIT 256
),
th AS (
  SELECT list_sort(list(unigram_ppl)) AS s, count(*) AS n FROM samp
)
SELECT doc_id, n_words, unigram_ppl,
  CAST(1 + (CASE WHEN unigram_ppl > s[least(n, CAST(ceil(1.0 * n / 3) AS BIGINT))]
            THEN 1 ELSE 0 END)
         + (CASE WHEN unigram_ppl > s[least(n, CAST(ceil(2.0 * n / 3) AS BIGINT))]
            THEN 1 ELSE 0 END) AS INT) AS ppl_bucket
FROM ppl CROSS JOIN th
"""

_MIXTURE_PLAN_SQL = """
WITH tot AS (
  SELECT source, CAST(sum(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> ''))) AS BIGINT)
    AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_tokens,
  round(CAST(CASE source WHEN 'src0' THEN 0.6 WHEN 'src1' THEN 0.3
        WHEN 'src2' THEN 0.1 ELSE 0.0 END AS DOUBLE), 6) AS target_share,
  CAST(floor((CASE source WHEN 'src0' THEN 0.6 WHEN 'src1' THEN 0.3
        WHEN 'src2' THEN 0.1 ELSE 0.0 END) * 1000000.0) AS BIGINT) AS target_tokens,
  round((CASE source WHEN 'src0' THEN 0.6 WHEN 'src1' THEN 0.3
        WHEN 'src2' THEN 0.1 ELSE 0.0 END) * 1000000.0 / n_tokens, 4) AS epochs
FROM tot
"""

_SW = ", ".join(f"'{s}'" for s in STOPWORDS["en"])
_LANG_CASES = {
    lang: f"len(list_filter({W}, w -> list_contains([{', '.join(repr(s) for s in sws)}], w)))"
    for lang, sws in STOPWORDS.items()
}

# ---- MAP / STRING payload oracles -------------------------------------------
#: the map<string,string> payload derivation, mirrored column-wise (DuckDB has
#: no need for an actual MAP — the driver compares values, the Spark side
#: carries the real MapType column).
_MAP_BASE = """
m AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
    CASE WHEN event_id % 7 = 0
         THEN 'u' || CAST(CAST(user_id AS BIGINT) AS VARCHAR)
         ELSE CAST(CAST(user_id AS BIGINT) AS VARCHAR) END AS user_id_s,
    CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) AS amount_s,
    CASE WHEN user_id % 2 = 0 THEN 'true' ELSE 'false' END AS active_s,
    event_type AS note_s
  FROM events
)
"""

_NUM_RE_SQL = "'^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$'"

_MAP_PAYLOAD_SQL = f"""
WITH {_MAP_BASE}
SELECT event_id,
  TRY_CAST(user_id_s AS BIGINT) AS user_id,
  TRY_CAST(amount_s AS DOUBLE) AS amount,
  note_s AS note,
  CASE WHEN user_id_s IS NOT NULL AND TRY_CAST(user_id_s AS BIGINT) IS NULL
       THEN 'TYPE_MISMATCH:user_id'
       WHEN amount_s IS NOT NULL AND TRY_CAST(amount_s AS DOUBLE) IS NULL
       THEN 'TYPE_MISMATCH:amount'
       END AS error_info
FROM m
"""

_MAP_DYNAMIC_SQL = f"""
WITH {_MAP_BASE},
tall AS (
  SELECT event_id, 'user_id' AS field, user_id_s AS raw FROM m
  UNION ALL SELECT event_id, 'amount', amount_s FROM m
  UNION ALL SELECT event_id, 'active', active_s FROM m
  UNION ALL SELECT event_id, 'note', note_s FROM m
)
SELECT event_id, field,
  CASE WHEN regexp_matches(raw, {_NUM_RE_SQL}) THEN 'double'
       WHEN raw IN ('true', 'false') THEN 'boolean'
       ELSE 'string' END AS dyn_type,
  CASE WHEN regexp_matches(raw, {_NUM_RE_SQL}) THEN TRY_CAST(raw AS DOUBLE) END AS v_double,
  CASE WHEN raw IN ('true', 'false') THEN raw = 'true' END AS v_boolean,
  CASE WHEN NOT regexp_matches(raw, {_NUM_RE_SQL}) AND raw NOT IN ('true', 'false') THEN raw END AS v_string
FROM tall
"""

_STRING_PAYLOAD_SQL = """
SELECT CAST(event_id AS BIGINT) AS event_id,
  event_type || ':' || CAST(event_id AS VARCHAR) AS value
FROM events
"""

_KEY_VALUE_MERGE_SQL = """
SELECT CAST(event_id AS BIGINT) AS "offset",
  'r' || CAST(user_id % 50 AS VARCHAR) AS repo,
  'p' || CAST(event_id % 20 AS VARCHAR) AS path,
  event_type AS "commit",
  'K:' || event_type AS shared,
  props AS note
FROM events
"""


# ---- embedding-space oracles ------------------------------------------------
# Shared cosine fragment (list_dot_product == the Spark left-fold bit-wise,
# proven by pipe_ann_brute's round-1 hash match).
_COS = (
    "round(list_dot_product(qv, cv) / "
    "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4)"
)


def _bucket_sql(vexpr: str, n_planes: int = 6, dim: int = 16, seed: str = "lsh") -> str:
    """DuckDB twin of operators.similarity.hyperplane_bucket: same plane
    constants (one hashlib generator), same left-assoc projection sum, same
    NULL-out-of-bounds semantics (v[i] OOB → NULL → CASE falls to 0)."""
    from kafka_connect_tablestore_spark.operators.similarity import (
        hyperplane_components,
    )

    planes = hyperplane_components(n_planes, dim, seed)
    parts = []
    for p, comps in enumerate(planes):
        proj = " + ".join(f"({vexpr}[{i + 1}] * {comps[i]!r})" for i in range(dim))
        parts.append(f"(CASE WHEN ({proj}) > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


def _ann_lsh_sql(k: int = 5, n_planes: int = 6, dim: int = 16) -> str:
    b = _bucket_sql("v", n_planes, dim)
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {b} AS bucket FROM base),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    round(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS cos_sim
  FROM b c JOIN b q ON c.bucket = q.bucket AND q.vec_id < 5 AND q.vec_id <> c.vec_id
)
SELECT query_id, CAST(row_number() OVER w AS INT) AS rank, neighbor_id, cos_sim
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC)
QUALIFY row_number() OVER w <= {k}
"""


def _ann_lsh_probe_sql(
    k: int = 5, n_planes: int = 6, dim: int = 16, probe_bits: int = 2
) -> str:
    # multi-probe twin: the query side explodes to its bucket plus the
    # 1-bit-flip neighbors in the first probe_bits planes; DISTINCT dedups
    # a neighbor reached via several probes (identical cos_sim).
    b = _bucket_sql("v", n_planes, dim)
    probes = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(probe_bits)]
    )
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {b} AS bucket FROM base),
qp AS (
  SELECT vec_id, v, unnest([{probes}]) AS bucket FROM b WHERE vec_id < 5
),
scored AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    round(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS cos_sim
  FROM b c JOIN qp q ON c.bucket = q.bucket AND q.vec_id <> c.vec_id
)
SELECT query_id, CAST(row_number() OVER w AS INT) AS rank, neighbor_id, cos_sim
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC)
QUALIFY row_number() OVER w <= {k}
"""


def _ann_pq_sql(k: int = 5, m: int = 4, n_codes: int = 16, dim: int = 64) -> str:
    """PQ-ADC twin.  Codebook j = subvector j of the first n_codes vectors
    (the Spark trainer's 'first' mode, computed here as a CTE).  One
    unrolled CTE per subspace picks the corpus row's nearest codeword by
    the same ``(<v,v> - 2<v,c>) + <c,c>`` expansion (ties → lowest code
    index); the inner-product and reconstruction-norm sums are EXPLICIT
    left-associated chains matching the Spark expression's unrolled
    ``ip + term`` evaluation order bit-for-bit."""
    sub = dim // m

    def sl(expr: str, j: int) -> str:  # DuckDB 1-based inclusive slice
        return f"{expr}[{j * sub + 1}:{(j + 1) * sub}]"

    chs = []
    for j in range(m):
        vj, cj = sl("b.v", j), sl("cb.c", j)
        chs.append(f"""ch{j} AS (
  SELECT b.vec_id, {cj} AS cw
  FROM base b CROSS JOIN cbv cb
  QUALIFY row_number() OVER (PARTITION BY b.vec_id ORDER BY
    (list_dot_product({vj}, {vj}) - 2.0 * list_dot_product({vj}, {cj}))
      + list_dot_product({cj}, {cj}),
    cb.code_idx) = 1
)""")

    def chain(terms: list[str]) -> str:
        out = terms[0]
        for t in terms[1:]:
            out = f"({out} + {t})"
        return out

    ip = chain(
        [f"list_dot_product({sl('q.qv', j)}, c{j}.cw)" for j in range(m)]
    )
    rn2 = chain([f"list_dot_product(c{j}.cw, c{j}.cw)" for j in range(m)])
    joins = " ".join(
        f"JOIN ch{j} c{j} ON c0.vec_id = c{j}.vec_id" for j in range(1, m)
    )
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cbv AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code_idx, v AS c
  FROM (SELECT * FROM base ORDER BY vec_id LIMIT {n_codes})
),
{", ".join(chs)},
q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < {5}),
scored AS (
  SELECT q.query_id, c0.vec_id AS neighbor_id,
    round({ip} / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt({rn2})), 4)
      AS pq_cos
  FROM ch0 c0 {joins} CROSS JOIN q
  WHERE q.query_id <> c0.vec_id
)
SELECT query_id, CAST(row_number() OVER w AS INT) AS rank, neighbor_id, pq_cos
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY pq_cos DESC, neighbor_id ASC)
QUALIFY row_number() OVER w <= {k}
"""


def _ann_ivfpq_sql(
    k: int = 5,
    n_cells: int = 16,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    nprobe: int = 2,
) -> str:
    """Spherical-IVFADC twin (``ann_ivfpq_topk``, round-5 residual
    encoding, train='first').  Mirrors the Spark math stage by stage:
    raw 'first' centroids → unit centroids (zero-norm guard ``n=0 → 1``)
    → per-vector unit residual ``v/|v| − ĉ`` (DuckDB indexed lambda for
    the element-wise subtract) → residual codebooks = residuals of the
    first ``n_codes`` ids → per-subspace nearest codeword by the same
    ``(<r,r> - 2<r,c>) + <c,c>`` expansion with first-min ties → stored
    norm ``sqrt(|ĉ|² + Σ_j (2⟨ĉ_j, cw_j⟩ + ⟨cw_j, cw_j⟩))`` as an
    explicit left-associated chain → ``nprobe`` nearest cells per query →
    ADC inner product plus the exact ``⟨q, ĉ⟩`` cell add-back.  Every sum
    is ordered to match the Spark expression's unrolled evaluation
    bit-for-bit."""
    sub = dim // m

    def sl(expr: str, j: int) -> str:  # DuckDB 1-based inclusive slice
        return f"{expr}[{j * sub + 1}:{(j + 1) * sub}]"

    chs = []
    for j in range(m):
        vj, cj = sl("rr.r", j), sl("cb.c", j)
        chs.append(f"""ch{j} AS (
  SELECT rr.vec_id, {cj} AS cw
  FROM res rr CROSS JOIN cbv cb
  QUALIFY row_number() OVER (PARTITION BY rr.vec_id ORDER BY
    (list_dot_product({vj}, {vj}) - 2.0 * list_dot_product({vj}, {cj}))
      + list_dot_product({cj}, {cj}),
    cb.code_idx) = 1
)""")

    def chain(first: str, terms: list[str]) -> str:
        out = first
        for t in terms:
            out = f"({out} + {t})"
        return out

    # stored norm: |uc|^2 then per subspace ((prev + 2<uc_j,cw_j>) + <cw_j,cw_j>)
    rn2 = "list_dot_product(co.uc, co.uc)"
    for j in range(m):
        ucj = sl("co.uc", j)
        rn2 = (
            f"(({rn2} + 2.0 * list_dot_product({ucj}, co.cw{j}))"
            f" + list_dot_product(co.cw{j}, co.cw{j}))"
        )
    ip = chain(
        f"list_dot_product({sl('qp.qv', 0)}, co.cw0)",
        [f"list_dot_product({sl('qp.qv', j)}, co.cw{j})" for j in range(1, m)],
    )
    ip = f"({ip} + list_dot_product(qp.qv, co.uc))"
    cjoins = " ".join(
        f"JOIN ch{j} c{j} ON c0.vec_id = c{j}.vec_id" for j in range(1, m)
    )
    cw_cols = ", ".join(f"c{j}.cw AS cw{j}" for j in range(m))
    unit = (
        "list_transform({v}, x -> x / (CASE WHEN sqrt(list_dot_product({v}, {v}))"
        " > 0 THEN sqrt(list_dot_product({v}, {v})) ELSE 1.0 END))"
    )
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_idx, v AS c
  FROM (SELECT * FROM base ORDER BY vec_id LIMIT {n_cells})
),
ucent AS (SELECT cell_idx, {unit.format(v="c")} AS uc FROM cent),
assign AS (
  SELECT vec_id, cell_idx,
    (list_dot_product(v, v) - (2.0 * list_dot_product(v, c))) + list_dot_product(c, c) AS dist
  FROM base CROSS JOIN cent
),
cells AS (
  SELECT vec_id, cell_idx AS cell FROM assign
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell_idx) = 1
),
res AS (
  SELECT b.vec_id, cl.cell,
    list_transform({unit.format(v="b.v")}, (x, i) -> x - u.uc[i]) AS r
  FROM base b JOIN cells cl ON b.vec_id = cl.vec_id
  JOIN ucent u ON cl.cell = u.cell_idx
),
cbv AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code_idx, r AS c
  FROM (SELECT * FROM res ORDER BY vec_id LIMIT {n_codes})
),
{", ".join(chs)},
corpus AS (
  SELECT c0.vec_id AS neighbor_id, cl.cell, u.uc, {cw_cols}
  FROM ch0 c0 {cjoins}
  JOIN cells cl ON c0.vec_id = cl.vec_id
  JOIN ucent u ON cl.cell = u.cell_idx
),
q0 AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < {5}),
qp AS (
  SELECT a.vec_id AS query_id, q0.qv, a.cell_idx AS cell
  FROM assign a JOIN q0 ON a.vec_id = q0.query_id
  QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY a.dist, a.cell_idx) <= {nprobe}
),
scored AS (
  SELECT DISTINCT qp.query_id, co.neighbor_id,
    round({ip} / (sqrt(list_dot_product(qp.qv, qp.qv)) * sqrt({rn2})), 4)
      AS pq_cos
  FROM corpus co JOIN qp USING (cell) WHERE qp.query_id <> co.neighbor_id
)
SELECT query_id, CAST(row_number() OVER w AS INT) AS rank, neighbor_id, pq_cos
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY pq_cos DESC, neighbor_id ASC)
QUALIFY row_number() OVER w <= {k}
"""


def _embedding_neardup_sql(
    threshold: float = 0.35, n_planes: int = 6, dim: int = 16, n_tables: int = 4
) -> str:
    # OR-amplified union over n_tables hash tables, then DISTINCT — the twin
    # of embedding_neardup_pairs.
    cos = (
        "round(list_dot_product(a.v, c.v) / (sqrt(list_dot_product(a.v, a.v))"
        " * sqrt(list_dot_product(c.v, c.v))), 4)"
    )
    tables = []
    for t in range(n_tables):
        seed = "lsh" if t == 0 else f"lsh{t}"
        b = _bucket_sql("v", n_planes, dim, seed=seed)
        tables.append(
            f"SELECT a.vec_id AS vec_a, c.vec_id AS vec_b, {cos} AS cos_sim "
            f"FROM (SELECT vec_id, v, {b} AS bucket FROM base) a "
            f"JOIN (SELECT vec_id, v, {b} AS bucket FROM base) c "
            f"ON a.bucket = c.bucket AND a.vec_id < c.vec_id "
            f"WHERE {cos} >= {threshold}"
        )
    union = " UNION ".join(f"({t})" for t in tables)
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
{union}
"""


def _ann_ivf_sql(
    k: int = 5, n_cells: int = 16, nprobe: int = 2,
    query_pred: str = "base.vec_id < 5",
) -> str:
    # distance = (<v,v> - 2<v,c>) + <c,c> — the exact operand order of
    # operators.similarity.ivf_assign; ties broken by lowest cell index
    # (Spark's array_position-first-min / sort_array on struct<dist,idx>).
    # Probes = the nprobe nearest cells in true distance order, the twin of
    # operators.similarity.ivf_probe_cells.
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_idx, v AS c
  FROM (SELECT * FROM base ORDER BY vec_id LIMIT {n_cells})
),
assign AS (
  SELECT vec_id, cell_idx,
    (list_dot_product(v, v) - (2.0 * list_dot_product(v, c))) + list_dot_product(c, c) AS dist
  FROM base CROSS JOIN cent
),
cells AS (
  SELECT vec_id, cell_idx AS cell FROM assign
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell_idx) = 1
),
corpus AS (SELECT base.vec_id AS neighbor_id, v AS cv, cell FROM base JOIN cells USING (vec_id)),
q0 AS (SELECT base.vec_id AS query_id, v AS qv FROM base WHERE {query_pred}),
qp AS (
  SELECT a.vec_id AS query_id, q0.qv, a.cell_idx AS cell
  FROM assign a JOIN q0 ON a.vec_id = q0.query_id
  QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY a.dist, a.cell_idx) <= {nprobe}
),
scored AS (
  SELECT DISTINCT query_id, neighbor_id, {_COS} AS cos_sim
  FROM corpus JOIN qp USING (cell) WHERE query_id <> neighbor_id
)
SELECT query_id, CAST(row_number() OVER w AS INT) AS rank, neighbor_id, cos_sim
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC)
QUALIFY row_number() OVER w <= {k}
"""


#: connected components (min-label fixpoint) as a recursive reachability
#: closure: cluster_id = min reachable id == min component member (edges are
#: symmetrized); survivors are the min member (doc_id == cluster_id).
_NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE sig AS ({_SIG_SQL}), banded AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE a.h0 IS NOT NULL
),
sh AS (SELECT doc_id, list_distinct({SHINGLES}) AS s FROM documents),
pairs AS (
  SELECT doc_a, doc_b FROM cand
  JOIN sh x ON cand.doc_a = x.doc_id JOIN sh y ON cand.doc_b = y.doc_id
  WHERE len(list_filter(x.s, e -> list_contains(y.s, e)))::DOUBLE
    / greatest(len(x.s) + len(y.s) - len(list_filter(x.s, e -> list_contains(y.s, e))), 1)::DOUBLE
    >= 0.8
),
edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s
),
comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
SELECT doc_id, cluster_id, doc_id = cluster_id AS is_survivor FROM comp
"""

#: Quality-aware canonical selection: the same LSH→Jaccard→CC clustering as
#: _NEARDUP_CLUSTERS_SQL, with the min-id survivor rule replaced by
#: argmax(alpha_ratio rounded to 4, tie min id) per cluster.
_CANONICAL_DOCS_SQL = f"""
WITH RECURSIVE sig AS ({_SIG_SQL}), banded AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE a.h0 IS NOT NULL
),
sh AS (SELECT doc_id, list_distinct({SHINGLES}) AS s FROM documents),
pairs AS (
  SELECT doc_a, doc_b FROM cand
  JOIN sh x ON cand.doc_a = x.doc_id JOIN sh y ON cand.doc_b = y.doc_id
  WHERE len(list_filter(x.s, e -> list_contains(y.s, e)))::DOUBLE
    / greatest(len(x.s) + len(y.s) - len(list_filter(x.s, e -> list_contains(y.s, e))), 1)::DOUBLE
    >= 0.8
),
edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s
),
comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
scored AS (
  SELECT doc_id,
    round(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))::DOUBLE
      / greatest(length(text), 1)::DOUBLE, 4) AS quality
  FROM documents
),
member AS (SELECT comp.doc_id, cluster_id, quality FROM comp JOIN scored USING (doc_id)),
best AS (
  SELECT cluster_id, doc_id AS canon FROM member
  QUALIFY row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC) = 1
)
SELECT m.doc_id, m.cluster_id, m.quality, m.doc_id = b.canon AS is_canonical
FROM member m JOIN best b USING (cluster_id)
"""

#: Interpolated-bigram LM perplexity (lam=0.75, unigram backoff); the
#: positional self-join builds the same transitions the Spark side derives
#: map-side from the word array.
_BIGRAM_PPL_SQL = f"""
WITH base AS (SELECT doc_id, {W} AS w FROM documents),
tok AS (SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS word FROM base),
uni AS (SELECT word AS w2, count(*) AS cu FROM tok GROUP BY word),
tot AS (SELECT count(*) AS n_total FROM tok),
bg AS (
  SELECT a.doc_id, a.word AS w1, b.word AS w2
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
dtf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bg GROUP BY doc_id, w1, w2),
model AS (SELECT w1, w2, sum(tf) AS cb FROM dtf GROUP BY w1, w2),
ctx AS (SELECT w1, sum(cb) AS c1 FROM model GROUP BY w1)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
  round(exp(-sum(tf * ln(0.75 * (cb::DOUBLE / c1) + 0.25 * (cu::DOUBLE / n_total)))
            / sum(tf)), 4) AS bigram_ppl
FROM dtf JOIN model USING (w1, w2) JOIN ctx USING (w1) JOIN uni USING (w2)
CROSS JOIN tot
GROUP BY doc_id
"""

#: DuckDB twin of the deterministic fake decoder in operators/multimodal.py:
#: payload = utf8(text), digest byte k = hex pair k of sha256(text).
_MULTIMODAL_SQL = """
SELECT doc_id AS media_id, 'image' AS kind,
  CAST(32 + ('0x' || substr(sha256(text), 1, 2))::INT % 224 AS INT) AS width,
  CAST(32 + ('0x' || substr(sha256(text), 3, 2))::INT % 224 AS INT) AS height,
  sha256(text) AS payload_sha256
FROM documents
"""

def _script_detect_sql() -> str:
    """Twin of functions/text.py::script_profile over the same augmented
    text: identical literal-endpoint character classes (SCRIPT_PATTERNS is
    the single source for both engines), same first-wins dominance CASE."""
    from kafka_connect_tablestore_spark.functions.text import SCRIPT_PATTERNS

    names = [n for n, _ in SCRIPT_PATTERNS]
    count_cols = ",\n    ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in SCRIPT_PATTERNS
    )
    total = " + ".join(f"n_{n}" for n in names)
    dom_cases = "\n       ".join(
        f"WHEN {' AND '.join(f'n_{n} >= n_{o}' for o in names if o != n)} "
        f"THEN '{n}'"
        for n in names
    )
    dom_count = " ".join(
        f"WHEN dominant_script = '{n}' THEN n_{n}" for n in names
    )
    return f"""
WITH aug AS (
  SELECT doc_id,
    text || repeat(' пример текста', CAST(doc_id % 3 AS INT) * 25)
         || repeat(' 中文样本', CAST(doc_id % 5 AS INT) * 15)
         || CASE WHEN doc_id % 7 = 0 THEN ' مثال' ELSE '' END AS text
  FROM documents
), c AS (
  SELECT doc_id,
    {count_cols}
  FROM aug
), d AS (
  SELECT *,
    CASE WHEN ({total}) = 0 THEN 'none'
       {dom_cases}
    END AS dominant_script
  FROM c
)
SELECT doc_id, {', '.join(f'n_{n}' for n in names)}, dominant_script,
  CASE WHEN ({total}) > 0
       THEN round((CASE {dom_count} END) / CAST(({total}) AS DOUBLE), 4)
       ELSE 0.0 END AS script_ratio
FROM d
"""


_TOKEN_HISTOGRAM_SQL = f"""
WITH t AS (SELECT len({W}) AS n FROM documents),
b AS (
  SELECT CASE WHEN n IS NULL OR n <= 0 THEN -1
              ELSE CAST(floor(log2(CAST(n AS DOUBLE))) AS INT) END AS bucket
  FROM t
),
g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs FROM b GROUP BY bucket),
tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS s FROM g)
SELECT bucket,
  CASE WHEN bucket < 0 THEN CAST(0 AS BIGINT)
       ELSE CAST(1 AS BIGINT) << bucket END AS lo,
  CASE WHEN bucket < 0 THEN CAST(0 AS BIGINT)
       ELSE (CAST(1 AS BIGINT) << (bucket + 1)) - 1 END AS hi,
  n_docs,
  round(n_docs / s, 6) AS share
FROM g CROSS JOIN tot
"""


def _graph_rank_sql(n_iter: int = 3, alpha: float = 0.5) -> str:
    """Seed-score diffusion over the k-NN graph, the n_iter rounds unrolled
    as chained CTEs — the exact twin of operators/clustering.py::
    propagate_scores over similarity.py::knn_graph."""
    knn = _ann_ivf_sql(k=3, n_cells=16, nprobe=2, query_pred="TRUE")
    ctes = [
        f"edges AS (SELECT query_id AS src, neighbor_id AS dst FROM ({knn}))",
        "deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src)",
        "nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges "
        "UNION SELECT dst FROM edges "
        "UNION SELECT vec_id FROM embeddings WHERE vec_id < 5))",
        "base AS (SELECT id, CASE WHEN id < 5 THEN 1.0 ELSE 0.0 END::DOUBLE AS b "
        "FROM nodes)",
        "s0 AS (SELECT id, b AS s FROM base)",
    ]
    for t in range(1, n_iter + 1):
        ctes.append(
            f"s{t} AS (SELECT base.id, {alpha} * base.b + {1.0 - alpha} * "
            f"coalesce(c.c, 0.0) AS s FROM base LEFT JOIN ("
            f"SELECT e.dst AS id, sum(p.s / deg.d) AS c FROM edges e "
            f"JOIN s{t - 1} p ON e.src = p.id JOIN deg ON deg.src = e.src "
            f"GROUP BY e.dst) c ON base.id = c.id)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, round(s, 4) AS score FROM s{n_iter}"
    )


_ANN_BRUTE_SQL = """
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 4) AS cos_sim
  FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id
)
SELECT query_id, CAST(row_number() OVER w AS INT) AS rank, neighbor_id, cos_sim
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC)
QUALIFY row_number() OVER w <= 5
"""


_C4_CLEAN_SQL = r"""
WITH aug AS (
  SELECT doc_id, concat_ws(chr(10),
    substr(text, 1, 40) || ' end.',
    CASE WHEN doc_id % 3 = 0 THEN 'short line'
         ELSE 'this second line carries plenty of words to retain!' END,
    CASE WHEN doc_id % 5 = 0
         THEN 'enable javascript to view this page properly now.'
         ELSE 'doc ' || CAST(doc_id AS VARCHAR)
              || ' closing sentence with enough words here?' END,
    CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor'
         ELSE 'final good line with the required word count.' END,
    CASE WHEN doc_id % 11 = 0 THEN 'code { block' ELSE '' END
  ) AS text FROM documents
), t AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM aug
), k AS (
  SELECT doc_id, text, lines,
    list_filter(lines, l -> regexp_matches(rtrim(l), '[.!?"]$')
      AND len(string_split_regex(trim(l), '\s+')) >= 5
      AND NOT contains(lower(l), 'javascript')) AS kept
  FROM t
)
SELECT doc_id,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(len(kept) AS BIGINT) AS n_kept,
  contains(lower(text), 'lorem ipsum') AS has_lorem,
  contains(text, '{') AS has_brace,
  array_to_string(kept, chr(10)) AS clean_text,
  (len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
   AND NOT contains(text, '{')) AS keep
FROM k
"""


def _lang_ngram_sql() -> str:
    """DuckDB twin of functions.text.ngram_lang_id over the same
    German/French-contaminated augmentation — profile lists shared from
    CHAR_TRIGRAM_PROFILES, first-wins argmax mirrored as CASE order."""
    from kafka_connect_tablestore_spark.functions.text import (
        CHAR_TRIGRAM_PROFILES,
    )

    langs = list(CHAR_TRIGRAM_PROFILES)
    hit_exprs = []
    for lang in langs:
        lst = ", ".join(f"'{p}'" for p in CHAR_TRIGRAM_PROFILES[lang])
        hit_exprs.append(
            f"CAST(len(list_filter(tri, x -> list_contains([{lst}], x))) "
            f"AS BIGINT) AS {lang}_hits"
        )
    hits = ",\n    ".join(hit_exprs)
    total = " + ".join(f"{l}_hits" for l in langs)
    best = "greatest(" + ", ".join(f"{l}_hits" for l in langs) + ")"
    case = f"CASE WHEN {total} = 0 THEN 'und'"
    for lang in langs:
        case += f" WHEN {lang}_hits = {best} THEN '{lang}'"
    case += " END"
    cols = ", ".join(f"{l}_hits" for l in langs)
    return f"""
WITH aug AS (
  SELECT doc_id, lower(text
    || CASE WHEN doc_id % 3 = 1
         THEN repeat(' der schnelle ich und die einsicht geschichte', 3)
         ELSE '' END
    || CASE WHEN doc_id % 3 = 2
         THEN repeat(' les questions que nous la mesure des choses', 3)
         ELSE '' END) AS t
  FROM documents
), g AS (
  SELECT doc_id,
    CASE WHEN length(t) >= 3
         THEN list_transform(generate_series(1, length(t) - 2),
                             i -> substr(t, i, 3))
         ELSE CAST([] AS VARCHAR[]) END AS tri
  FROM aug
), h AS (
  SELECT doc_id,
    {hits}
  FROM g
)
SELECT doc_id, {cols},
  {case} AS lang,
  round(CAST({best} AS DOUBLE)
        / CAST(greatest({total}, 1) AS DOUBLE), 4) AS confidence
FROM h
"""


def _quality_classifier_sql() -> str:
    """DuckDB twin of functions.text.quality_classifier_score: the gopher
    signal CTE (shared SQL) + the same left-associated linear head; weights
    shared from QUALITY_CLASSIFIER_WEIGHTS."""
    from kafka_connect_tablestore_spark.functions.text import (
        QUALITY_CLASSIFIER_WEIGHTS as W_,
    )

    logit = (
        f"{W_['bias']!r} + {W_['log_n_words']!r} * ln(1.0 + CAST(n_words AS DOUBLE))"
        f" + {W_['mean_word_len']!r} * mean_word_len"
        f" + ({W_['symbol_word_ratio']!r}) * symbol_word_ratio"
        f" + ({W_['bullet_line_frac']!r}) * bullet_line_frac"
        f" + ({W_['ellipsis_line_frac']!r}) * ellipsis_line_frac"
        f" + {W_['alpha_word_frac']!r} * alpha_word_frac"
        f" + {W_['stop_hits']!r} * CAST(stop_hits AS DOUBLE)"
    )
    return f"""
WITH g AS ({_GOPHER_SQL}),
s AS (
  SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
         bullet_line_frac, ellipsis_line_frac, alpha_word_frac, stop_hits,
         round(1.0 / (1.0 + exp(-({logit}))), 6) AS score
  FROM g
)
SELECT *, score >= 0.5 AS keep FROM s
"""


def _gopher_repetition_sql(
    top_ns=(2, 3, 4), dup_ns=(5, 6, 7, 8, 9, 10)
) -> str:
    """DuckDB twin of functions.text.gopher_repetition over the same
    planted-repetition augmentation: per-n gram lists via generate_series
    slices, counts grouped on (doc, n, gram), the top gram as a
    lexicographic struct max (same (count, length, text) tie rule as the
    Spark struct max), duplicate coverage as a conditional sum."""
    all_ns = sorted(set(top_ns) | set(dup_ns))
    gram_selects = "\n  UNION ALL\n".join(
        f"""  SELECT doc_id, {n} AS n,
    unnest(list_transform(generate_series(1, len(w) - {n - 1}),
                          i -> array_to_string(w[i:i + {n - 1}], ' '))) AS gram
  FROM per_doc"""
        for n in all_ns
    )
    per_n_aggs = []
    for n in sorted(top_ns):
        per_n_aggs.append(
            f"max(CASE WHEN n = {n} THEN struct_pack(c := cnt, l := glen, "
            f"g := gram) END) AS top{n}"
        )
    for n in sorted(dup_ns):
        per_n_aggs.append(
            f"sum(CASE WHEN n = {n} AND cnt > 1 THEN cnt * glen ELSE 0 END) "
            f"AS dup{n}"
        )
    out_cols = []
    for n in sorted(top_ns):
        out_cols.append(
            f"round(least(coalesce(CAST(struct_extract(top{n}, 'c') "
            f"* struct_extract(top{n}, 'l') AS DOUBLE), 0.0) "
            f"/ CAST(cc AS DOUBLE), 1.0), 4) AS top_{n}gram_char_frac"
        )
    for n in sorted(dup_ns):
        out_cols.append(
            f"round(least(coalesce(CAST(dup{n} AS DOUBLE), 0.0) "
            f"/ CAST(cc AS DOUBLE), 1.0), 4) AS dup_{n}gram_char_frac"
        )
    per_n_sql = ",\n    ".join(per_n_aggs)
    out_sql = ",\n  ".join(out_cols)
    return f"""
WITH aug AS (
  SELECT doc_id, concat_ws(chr(10),
    substr(text, 1, 80),
    'this boilerplate sentence repeats verbatim across documents '
      || CAST(doc_id % 5 AS VARCHAR),
    CASE WHEN doc_id % 4 = 0 THEN
      'this boilerplate sentence repeats verbatim across documents '
        || CAST(doc_id % 5 AS VARCHAR) END,
    CASE WHEN doc_id % 3 = 0 THEN
      substr(text, 1, 60) || ' ' || substr(text, 1, 60) END
  ) AS text FROM documents
), per_doc AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS w,
    round(CAST(len(string_split(text, chr(10)))
               - len(list_distinct(string_split(text, chr(10))))
          AS DOUBLE)
          / CAST(greatest(len(string_split(text, chr(10))), 1) AS DOUBLE),
          4) AS dup_line_frac,
    round(CAST(list_aggregate(list_transform(string_split(text, chr(10)),
                                             x -> length(x)), 'sum')
               - list_aggregate(list_transform(
                   list_distinct(string_split(text, chr(10))),
                   x -> length(x)), 'sum')
          AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE), 4)
      AS dup_line_char_frac,
    greatest(length(array_to_string(
      list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> ''), ' ')), 1) AS cc
  FROM aug
), grams AS (
{gram_selects}
), counts AS (
  SELECT doc_id, n, gram, count(*) AS cnt, length(gram) AS glen
  FROM grams GROUP BY doc_id, n, gram
), per_n AS (
  SELECT doc_id,
    {per_n_sql}
  FROM counts GROUP BY doc_id
)
SELECT p.doc_id, dup_line_frac, dup_line_char_frac,
  {out_sql}
FROM per_doc p LEFT JOIN per_n USING (doc_id)
"""


def _semantic_decontam_sql(tau: float = 0.9) -> str:
    """DuckDB twin of operators.decontam.semantic_decontaminate: the same
    bench subset, list_dot_product cosine (== the Spark left fold, the
    pipe_ann_brute precedent), smallest-bench-id tie rule."""
    return f"""
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
b AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS bv FROM embeddings
      WHERE vec_id % 17 = 0),
scored AS (
  SELECT c.vec_id, b.bid,
    CASE WHEN sqrt(list_dot_product(cv, cv)) = 0
           OR sqrt(list_dot_product(bv, bv)) = 0 THEN -2.0
         ELSE list_dot_product(cv, bv)
              / (sqrt(list_dot_product(cv, cv))
                 * sqrt(list_dot_product(bv, bv))) END AS s
  FROM c CROSS JOIN b
),
best AS (
  SELECT vec_id, bid, s,
    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, bid ASC) AS rn
  FROM scored
)
SELECT vec_id,
  CASE WHEN s > -1.5 THEN round(s, 4) END AS best_cos,
  CASE WHEN s > -1.5 THEN bid END AS bench_id,
  round(s, 4) >= {tau!r} AS contaminated
FROM best WHERE rn = 1
"""


def oracle_sql() -> dict[str, str]:
    lww_cols = (
        'SELECT topic, "partition", "offset", commit_ts, op, repo, path, '
        '"commit", lang, content FROM log QUALIFY row_number() OVER ('
        'PARTITION BY repo, path ORDER BY commit_ts DESC, "offset" DESC) = 1'
    )
    return {
        # bootstrap handoff: snapshot(prefix) + tail(+redelivery) must equal
        # the single-pass fold of the full log — the oracle IS the
        # final-state twin (plus sha256), proving the handoff is invisible
        "cdc_bootstrap_handoff": _FINAL_STATE_SQL,
        # deterministic hash split: identical md5 arithmetic, sorted-label
        # cumulative thresholds over 10000 (test 0.05 | train 0.90 | val 0.05)
        "pipe_hash_split": (
            "SELECT doc_id, CASE WHEN "
            + H("CAST(doc_id AS VARCHAR)", "split")
            + " % 10000 < 500 THEN 'test' WHEN "
            + H("CAST(doc_id AS VARCHAR)", "split")
            + " % 10000 < 9500 THEN 'train' ELSE 'val' END AS split "
            "FROM documents"
        ),
        "pipe_blocklist": _BLOCKLIST_SQL,
        # cross-split near-dup leakage audit (LSH pairs + inline split CASE)
        "pipe_split_leakage": _SPLIT_LEAK_SQL,
        # per-repo churn/lineage rollup straight off the log
        "cdc_churn_stats": f"""
WITH {LOG}
SELECT repo,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CASE WHEN op = 'PUT' THEN 1 ELSE 0 END) AS BIGINT) AS n_puts,
  CAST(sum(CASE WHEN op = 'UPDATE' THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
  CAST(sum(CASE WHEN op = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
  CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
  CAST(count(DISTINCT "partition") AS BIGINT) AS n_partitions,
  CAST(min(commit_ts) AS BIGINT) AS first_ts,
  CAST(max(commit_ts) AS BIGINT) AS last_ts
FROM log GROUP BY repo
""",
        # per-lang exact quantiles: quantile_cont mirrors Spark's
        # linear-interpolating percentile on the same integer inputs
        "pipe_len_quantiles": f"""
WITH t AS (
  SELECT lang, n_chars, CAST(len({W}) AS BIGINT) AS n_tokens FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  round(quantile_cont(n_chars, 0.25), 4) AS n_chars_p25,
  round(quantile_cont(n_chars, 0.50), 4) AS n_chars_p50,
  round(quantile_cont(n_chars, 0.75), 4) AS n_chars_p75,
  round(quantile_cont(n_chars, 0.95), 4) AS n_chars_p95,
  round(quantile_cont(n_tokens, 0.25), 4) AS n_tokens_p25,
  round(quantile_cont(n_tokens, 0.50), 4) AS n_tokens_p50,
  round(quantile_cont(n_tokens, 0.75), 4) AS n_tokens_p75,
  round(quantile_cont(n_tokens, 0.95), 4) AS n_tokens_p95
FROM t GROUP BY lang
""",
        # Heaps-law growth: first-seen per word + inequality join against
        # the checkpoint list — same decomposition as the Spark plan
        "pipe_vocab_growth": f"""
WITH cps AS (SELECT unnest([100, 200, 300, 400, 500]) AS cp),
w AS (SELECT doc_id, unnest({W}) AS word FROM documents),
fs AS (SELECT word, min(doc_id) AS fs FROM w WHERE word <> '' GROUP BY word),
v AS (SELECT cp, CAST(count(*) AS BIGINT) AS vocab_size
      FROM fs, cps WHERE fs <= cp GROUP BY cp),
t AS (SELECT cp, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({W})) AS BIGINT) AS n_tokens
      FROM documents, cps WHERE doc_id <= cp GROUP BY cp)
SELECT cps.cp,
       CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs,
       CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(vocab_size, 0) AS BIGINT) AS vocab_size
FROM cps LEFT JOIN t ON cps.cp = t.cp LEFT JOIN v ON cps.cp = v.cp
""",
        # per-doc shingle novelty: distinct doc×gram, global first-seen,
        # rollup — null-text docs re-enter with zeros via the left join
        "pipe_novelty": f"""
WITH g AS (
  SELECT DISTINCT doc_id, gram
  FROM (SELECT doc_id, unnest({SHINGLES}) AS gram FROM documents)
), fs AS (SELECT gram, min(doc_id) AS fs FROM g GROUP BY gram),
per AS (
  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN fs.fs = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel
  FROM g JOIN fs USING (gram) GROUP BY g.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel
FROM documents d LEFT JOIN per USING (doc_id)
""",
        # point-in-time: the fold over the time prefix at the corpus-time
        # midpoint; the bound is a scalar subquery, independently computed
        "cdc_point_in_time": f"""
WITH {LOG},
b AS (SELECT min(commit_ts)
             + ((max(commit_ts) - min(commit_ts)) // 1000000) * 500000
             + (((max(commit_ts) - min(commit_ts)) % 1000000) * 500000)
               // 1000000 AS t
      FROM log),
plog AS (SELECT l.* FROM log l, b
         WHERE l.commit_ts IS NULL OR l.commit_ts <= b.t),
{_fold_ctes("plog")}
SELECT repo, path, "commit", lang, content FROM state
""",
        # exactly-once as a batch invariant: duplicated delivery collapsed
        # on the manifest identity (topic, partition, offset) before the
        # fold must reproduce the clean replay bit-for-bit
        "cdc_replay_idempotent": f"""
WITH {LOG},
dup AS (SELECT * FROM log
        UNION ALL SELECT * FROM log WHERE "offset" % 5 = 0),
uniq AS (SELECT DISTINCT * FROM dup),
{_fold_ctes("uniq")}
SELECT repo, path, "commit", lang, content,
       sha256(content) AS content_sha256
FROM state
""",
        # SCD2 version intervals: lead() over ALL changes (DELETEs included,
        # so they close the prior interval), then non-DELETE rows survive
        "cdc_scd2_history": f"""
WITH {LOG},
ordered AS (
  SELECT repo, path, "commit", lang, content, op,
         CAST(commit_ts AS BIGINT) AS valid_from,
         CAST(lead(commit_ts) OVER (
           PARTITION BY repo, path ORDER BY commit_ts, "offset"
         ) AS BIGINT) AS valid_to
  FROM log)
SELECT repo, path, "commit", lang, content, valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM ordered WHERE op <> 'DELETE'
""",
        # as-of enrichment: the oracle is the DECLARATIVE interval lookup
        # against the SCD2 history — intervals per key are disjoint by
        # construction, so the left join matches at most one version
        "cdc_asof_enrich": f"""
WITH {LOG},
facts AS (
  SELECT event_id AS fact_id,
         'repo_' || CAST(user_id % 40 AS VARCHAR) AS repo,
         'src/f' || CAST((event_id * 7 + 3) % 25 AS VARCHAR) || '.py' AS path,
         epoch_ms(ts) AS fact_ts
  FROM events WHERE event_type = 'purchase'),
hist AS (
  SELECT * FROM (
    SELECT repo, path, "commit", lang, content, op,
           CAST(commit_ts AS BIGINT) AS valid_from,
           CAST(lead(commit_ts) OVER (
             PARTITION BY repo, path ORDER BY commit_ts, "offset"
           ) AS BIGINT) AS valid_to
    FROM log)
  WHERE op <> 'DELETE')
SELECT f.fact_id, f.repo, f.path, f.fact_ts,
       h."commit" AS asof_commit, h.lang AS asof_lang,
       h.content AS asof_content
FROM facts f
LEFT JOIN hist h
  ON h.repo = f.repo AND h.path = f.path
 AND h.valid_from <= f.fact_ts
 AND (h.valid_to IS NULL OR h.valid_to > f.fact_ts)
""",
        "pipe_dup_spans": _DUP_SPANS_SQL,
        "pipe_bloom_dedup": _BLOOM_DEDUP_SQL,
        "pipe_bloom_verified": _CROSS_EXACT_SQL,
        "pipe_lsh_plan": _LSH_PLAN_SQL,
        "pipe_doc_chunks": _DOC_CHUNKS_SQL,
        "pipe_cross_exact": _CROSS_EXACT_SQL,
        "pipe_cross_neardup": _CROSS_NEARDUP_SQL,
        "pipe_bpe_merges": _BPE_PAIRS_SQL,
        "pipe_bpe_train": _bpe_train_sql(5),
        "pipe_bpe_apply": _bpe_apply_sql(5),
        "pipe_repetition_full": _gopher_repetition_sql(),
        "pipe_c4_clean": _C4_CLEAN_SQL,
        "pipe_lang_ngram": _lang_ngram_sql(),
        "pipe_quality_classifier": _quality_classifier_sql(),
        "pipe_semantic_decontam": _semantic_decontam_sql(tau=0.9),
        # incremental view maintenance: the oracle is the FULL recompute
        # over the final fold state — equality proves the delta path
        "cdc_incremental_agg": f"""
WITH {LOG}, {_fold_ctes("log")}
SELECT repo, lang,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(coalesce(length(content), 0)) AS BIGINT) AS content_bytes
FROM state GROUP BY repo, lang
""",
        "cdc_lag_stats": f"""
WITH {LOG}, r AS (
  SELECT topic, "partition", commit_ts,
    max(commit_ts) OVER (PARTITION BY topic, "partition" ORDER BY "offset"
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS running
  FROM log
)
SELECT topic, "partition",
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(CASE WHEN running > commit_ts THEN 1 END) AS BIGINT) AS n_late,
  CAST(coalesce(max(CASE WHEN running > commit_ts THEN running - commit_ts END), 0)
       AS BIGINT) AS max_lag,
  round(coalesce(avg(CASE WHEN running > commit_ts THEN running - commit_ts END),
       0.0), 4) AS avg_lag
FROM r GROUP BY topic, "partition"
""",
        "pipe_source_scorecard": f"""
WITH d AS (
  SELECT doc_id, source,
    CAST(len({W}) AS BIGINT) AS tokens,
    length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))
      / CAST(greatest(length(text), 1) AS DOUBLE) AS alpha,
    md5(regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp
  FROM documents
), o AS (SELECT fp, min(doc_id) AS owner FROM d GROUP BY fp)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(tokens) AS BIGINT) AS total_tokens,
  round(avg(tokens), 4) AS mean_tokens,
  round(avg(CASE WHEN d.doc_id <> o.owner THEN 1.0 ELSE 0.0 END), 4) AS dup_rate,
  round(avg(alpha), 4) AS mean_alpha_ratio
FROM d JOIN o USING (fp)
GROUP BY source
""",
        "pipe_script_detect": _script_detect_sql(),
        "pipe_token_histogram": _TOKEN_HISTOGRAM_SQL,
        "pipe_graph_rank": _graph_rank_sql(n_iter=3, alpha=0.5),
        "pipe_ann_recall": f"""
SELECT e.query_id,
  CAST(count(*) AS BIGINT) AS n_ref,
  CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
  round(count(a.neighbor_id) / CAST(count(*) AS DOUBLE), 4) AS recall
FROM ({_ANN_BRUTE_SQL}) e
LEFT JOIN ({_ann_ivf_sql()}) a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
""",
        "cdc_lww_window": f"WITH {LOG} {lww_cols}",
        "cdc_lww_maxby": f"WITH {LOG} {lww_cols}",
        "cdc_lww_salted": f"WITH {LOG} {lww_cols}",
        "cdc_final_state": _FINAL_STATE_SQL,
        # update+column-delete: every clean record is a whole-row update with
        # null=delete-column, so the fold degenerates to LWW over non-tombstones
        "cdc_final_state_colmode": (
            f'WITH {LOG} SELECT repo, path, "commit", lang, content FROM log '
            "WHERE op <> 'DELETE' QUALIFY row_number() OVER ("
            'PARTITION BY repo, path ORDER BY commit_ts DESC, "offset" DESC) = 1'
        ),
        "cdc_tombstone_filter": (
            f'WITH {LOG} SELECT "partition", "offset", commit_ts, repo, path '
            "FROM log WHERE op = 'DELETE'"
        ),
        "cdc_pk_kafka": (
            f'WITH {LOG} SELECT topic || \'_\' || CAST("partition" AS VARCHAR) '
            'AS topic_partition, "offset" FROM log'
        ),
        "cdc_pk_search": (
            f'WITH {LOG} SELECT substr(md5(topic || \'_\' || CAST("partition" AS VARCHAR)'
            ' || \'_\' || CAST("offset" AS VARCHAR)), 1, 5) AS md5, topic, "partition", '
            '"offset", commit_ts AS timestamp FROM log'
        ),
        "cdc_routing": (
            f"WITH {LOG} SELECT CASE WHEN topic = 'repos' THEN 't_repos' "
            "ELSE 'tbl_' || topic END AS target_table, "
            "CAST(count(*) AS BIGINT) AS n_events FROM log GROUP BY 1"
        ),
        "cdc_dlq_split": (
            f'WITH {LOG} SELECT topic || \'_\' || CAST("partition" AS VARCHAR) AS '
            'topic_partition, "offset", \'DELETE_NOT_ALLOWED\' AS error_info '
            "FROM log WHERE op = 'DELETE'"
        ),
        "cdc_type_cast": (
            "SELECT CAST(event_id AS BIGINT) AS event_id, "
            "CAST(user_id AS BIGINT) AS user_id_long, "
            "CAST(value AS DOUBLE) AS value_double, "
            "CAST(value AS VARCHAR) AS value_str, "
            "event_type = 'error' AS is_error FROM events"
        ),
        "cdc_projection_whitelist": (
            f'WITH {LOG} SELECT topic, "partition", "offset", commit_ts, op, '
            "repo, path, lang, content FROM log"
        ),
        "cdc_timeseries_transform": (
            "SELECT event_type AS _measurement, "
            "CAST(user_id AS VARCHAR) AS _datasource, "
            "'event_type=' || event_type AS _tags_str, "
            "epoch_ms(ts) * 1000 AS _time_us, "
            "value, event_id FROM events"
        ),
        "cdc_windowed_counts": (
            f"WITH {LOG} "
            "SELECT (commit_ts // 60000) * 60000 AS window_start_ms, "
            "(commit_ts // 60000) * 60000 + 60000 AS window_end_ms, "
            "repo, CAST(count(*) AS BIGINT) AS n_events, "
            "CAST(count(*) FILTER (WHERE op = 'DELETE') AS BIGINT) AS n_deletes "
            "FROM log GROUP BY 1, 2, 3"
        ),
        "cdc_map_payload": _MAP_PAYLOAD_SQL,
        "cdc_map_payload_dynamic": _MAP_DYNAMIC_SQL,
        "cdc_string_payload": _STRING_PAYLOAD_SQL,
        "cdc_key_value_merge": _KEY_VALUE_MERGE_SQL,
        "pipe_dedup_exact": (
            f"SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS group_size, "
            f"{FP} AS fp FROM documents GROUP BY fp"
        ),
        "pipe_minhash_signatures": _SIG_SQL,
        "pipe_lsh_pairs": f"WITH {_LSH_PAIRS_CORE}",
        "pipe_lsh_pairs_capped": _LSH_PAIRS_CAPPED_SQL,
        "pipe_simhash": _SIMHASH_SQL,
        "pipe_simhash_neardup": _SIMHASH_NEARDUP_SQL_TMPL.format(sim=_SIMHASH_SQL),
        "pipe_word_entropy": (
            f"WITH wc AS (SELECT doc_id, w, count(*) AS n FROM "
            f"(SELECT doc_id, unnest({W}) AS w FROM documents) GROUP BY doc_id, w) "
            "SELECT doc_id, round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 4) "
            "AS word_entropy, CAST(sum(n) AS BIGINT) AS n_words "
            "FROM wc GROUP BY doc_id"
        ),
        "pipe_stratified_sample": (
            "SELECT doc_id, lang, text FROM documents WHERE "
            + H("CAST(doc_id AS VARCHAR)", "samp")
            + " % 10000 < (CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 "
            "WHEN 'fr' THEN 1000 ELSE 0 END)"
        ),
        "pipe_ngram_jaccard": _NGRAM_JACCARD_SQL,
        "pipe_bigram_ppl": _BIGRAM_PPL_SQL,
        "pipe_canonical_docs": _CANONICAL_DOCS_SQL,
        "pipe_text_quality": (
            f"SELECT doc_id, CAST(len({W}) AS BIGINT) AS n_tokens, "
            f"CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens, "
            f"round(len(list_filter({W}, w -> list_contains([{_SW}], w)))::DOUBLE "
            f"/ greatest(len({W}), 1)::DOUBLE, 4) AS stopword_ratio, "
            "round(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))::DOUBLE "
            "/ greatest(length(text), 1)::DOUBLE, 4) AS alpha_ratio "
            "FROM documents"
        ),
        "pipe_lang_id": (
            "SELECT doc_id, CASE "
            f"WHEN {_LANG_CASES['en']} >= {_LANG_CASES['de']} AND {_LANG_CASES['en']} >= {_LANG_CASES['fr']} THEN 'en' "
            f"WHEN {_LANG_CASES['de']} >= {_LANG_CASES['fr']} THEN 'de' "
            "ELSE 'fr' END AS lang_guess FROM documents"
        ),
        "pipe_fingerprint": f"SELECT doc_id, {FP} AS fp FROM documents",
        "pipe_clean_corpus": (
            f"WITH survivors AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY {FP}), "
            "scored AS (SELECT doc_id, "
            f"CAST(len({W}) AS BIGINT) AS n_tokens, "
            "round(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))::DOUBLE "
            "/ greatest(length(text), 1)::DOUBLE, 4) AS alpha_ratio, "
            f"({_LANG_CASES['en']} >= {_LANG_CASES['de']} AND {_LANG_CASES['en']} >= {_LANG_CASES['fr']}) AS is_en "
            "FROM documents) "
            "SELECT s.doc_id, n_tokens, alpha_ratio FROM survivors s JOIN scored USING (doc_id) "
            "WHERE n_tokens >= 10 AND alpha_ratio >= 0.5 AND is_en"
        ),
        "pipe_ann_brute": _ANN_BRUTE_SQL,
        "pipe_ann_lsh": _ann_lsh_sql(k=5, n_planes=6, dim=16),
        "pipe_ann_lsh_probe": _ann_lsh_probe_sql(k=5, n_planes=6, dim=16, probe_bits=2),
        "pipe_ann_pq": _ann_pq_sql(k=5, m=4, n_codes=16, dim=64),
        "pipe_ann_ivf": _ann_ivf_sql(k=5, n_cells=16, nprobe=2),
        "pipe_ann_ivfpq": _ann_ivfpq_sql(
            k=5, n_cells=16, m=4, n_codes=16, dim=64, nprobe=2
        ),
        "pipe_embedding_neardup": _embedding_neardup_sql(threshold=0.35),
        "pipe_neardup_clusters": _NEARDUP_CLUSTERS_SQL,
        "pipe_decontaminate": _DECONTAM_SQL,
        "pipe_repetition": _REPETITION_SQL,
        "pipe_tfidf_topk": _TFIDF_SQL,
        "pipe_unigram_ppl": _UNIGRAM_PPL_SQL,
        "pipe_multimodal_features": _MULTIMODAL_SQL,
        "cdc_snapshot_diff": _SNAPSHOT_DIFF_SQL,
        "pipe_pii_redact": _PII_REDACT_SQL,
        "pipe_seq_pack": _SEQ_PACK_SQL,
        "pipe_mixture_sample": _MIXTURE_SQL,
        "pipe_chunk_dedup": _CHUNK_DEDUP_SQL,
        "pipe_global_shuffle": _GLOBAL_SHUFFLE_SQL,
        "cdc_offset_gaps": _OFFSET_GAPS_SQL,
        "pipe_winnowing": _WINNOWING_SQL,
        "pipe_winnowing_overlap": _WINNOWING_OVERLAP_SQL,
        "pipe_url_domains": _URL_DOMAINS_SQL,
        "pipe_domain_cap": _DOMAIN_CAP_SQL,
        "pipe_semantic_dedup": _SEMANTIC_DEDUP_SQL,
        "pipe_gopher_quality": _GOPHER_SQL,
        "pipe_url_dedup": _URL_DEDUP_SQL,
        "pipe_boilerplate_strip": _BOILERPLATE_SQL,
        "pipe_dsir_weights": _DSIR_SQL,
        "cdc_sessionize": _SESSIONIZE_SQL,
        "pipe_knn_graph": _ann_ivf_sql(k=3, n_cells=16, nprobe=2, query_pred="TRUE"),
        "pipe_ppl_buckets": _PPL_BUCKETS_SQL,
        "pipe_mixture_plan": _MIXTURE_PLAN_SQL,
        "pipe_bpe_tokens": _BPE_TOKENS_SQL,
        "pipe_top_ngrams": _TOP_NGRAMS_SQL,
        "pipe_containment": _CONTAINMENT_SQL,
        "pipe_temperature_rates": _TEMPERATURE_RATES_SQL,
        "pipe_temperature_sample": _TEMPERATURE_SAMPLE_SQL,
    }
