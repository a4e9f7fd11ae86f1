"""Output checks: pinned query digests and the exact ingest checker.

Query outputs are compared with reference digests recorded in
``digests.json`` (row count plus an order-insensitive sha256 over the
canonical rows and the schema).  The ingest checker compares the dual
sink with the generator's exact expectation: detail ids, the distinct
summary set, no batch committed twice, and a seeded sample of stanzas
decrypted through ``functions.crypto.aes_decrypt_b64``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import random
import re

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS_PATH = os.path.join(HERE, "digests.json")


def _canon(v):
    """A repr that is identical for equal values whatever the row order or
    the map iteration order."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{_canon(k)}:{_canon(x)}" for k, x in v.items())) + "}"
    if isinstance(v, (list, tuple)):  # a Row is a tuple; field names are in the schema
        return "(" + ",".join(_canon(x) for x in v) + ")"
    return repr(v)


def frame_digest(rows: list, schema_string: str) -> dict:
    """``{"rows": n, "sha256": hex}`` of a collected result, independent of
    row order."""
    h = hashlib.sha256(schema_string.encode())
    for line in sorted(_canon(r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(rows), "sha256": h.hexdigest()}


def df_digest(df) -> dict:
    return frame_digest(df.collect(), df.schema.simpleString())


def load_digests(path: str = DIGESTS_PATH) -> dict:
    with open(path) as f:
        return json.load(f)


def digest_error(name: str, got: dict, pinned: dict) -> str | None:
    want = pinned.get(name)
    if want is None:
        return f"{name}: no pinned digest"
    if got != want:
        return f"{name}: got {got}, pinned {want}"
    return None


def _batch_files(table_dir: str) -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    for path in glob.glob(os.path.join(table_dir, "_batch_id=*", "*.parquet")):
        bid = int(re.search(r"_batch_id=(\d+)", path).group(1))
        out.setdefault(bid, []).append(path)
    return out


def _read_columns(paths: list[str], columns: list[str]) -> list[tuple]:
    rows: list[tuple] = []
    for p in sorted(paths):
        t = pq.read_table(p, columns=columns).to_pydict()
        rows.extend(zip(*(t[c] for c in columns)))
    return rows


class IngestChecker:
    """Checks the dual sink under ``out_root`` round by round.

    ``check_round`` compares one drained round's batch with its expectation
    and returns the errors found; ``check_sinks`` re-reads every batch and
    also catches a batch committed twice; ``check_decrypt`` decrypts a seeded
    sample of detail rows through ``aes_decrypt_b64``.
    """

    SAMPLE = 64

    def __init__(self, out_root: str, seed: int):
        self.detail_dir = os.path.join(out_root, "message_history")
        self.summary_dir = os.path.join(out_root, "message_history_summary")
        self.seed = seed
        self.expected: list = []  # RoundExpectation per round, batch id == round

    def check_round(self, r: int, exp) -> list[str]:
        self.expected.append(exp)
        errors = []
        detail = _batch_files(self.detail_dir).get(r, [])
        ids = [m for (m,) in _read_columns(detail, ["message_id"])]
        if len(ids) != len(exp.stanza) or set(ids) != exp.stanza.keys():
            errors.append(f"round {r}: detail has {len(ids)} rows "
                          f"({len(set(ids))} distinct), expected {len(exp.stanza)}")
        summary = _read_columns(_batch_files(self.summary_dir).get(r, []),
                                ["username", "jid", "date_partition"])
        if len(summary) != len(exp.summary) or set(summary) != exp.summary:
            errors.append(f"round {r}: summary has {len(summary)} rows, expected {len(exp.summary)}")
        return errors

    def check_sinks(self) -> list[str]:
        errors = []
        detail_batches = _batch_files(self.detail_dir)
        n_rounds = len(self.expected)
        if sorted(detail_batches) != list(range(n_rounds)):
            errors.append(f"detail batches {sorted(detail_batches)}, expected 0..{n_rounds - 1}")
        ids = [m for ps in detail_batches.values() for (m,) in _read_columns(ps, ["message_id"])]
        want_ids = {m for e in self.expected for m in e.stanza}
        if len(ids) != len(want_ids) or set(ids) != want_ids:
            errors.append(f"detail holds {len(ids)} rows ({len(set(ids))} distinct), "
                          f"expected {len(want_ids)} = generated "
                          f"{sum(e.generated for e in self.expected)} minus O9 drops")
        view = {row for ps in _batch_files(self.summary_dir).values()
                for row in _read_columns(ps, ["username", "jid", "date_partition"])}
        want_view = set().union(*(e.summary for e in self.expected)) if self.expected else set()
        if view != want_view:
            errors.append(f"summary distinct view has {len(view)} triples, expected {len(want_view)}")
        return errors

    def check_decrypt(self, spark) -> list[str]:
        from pyspark.sql import functions as F

        from flink_kafka_consumer_cassandra_output_spark.functions import crypto

        want = {m: s for e in self.expected for m, s in e.stanza.items()}
        if not want:
            return []
        sample = random.Random(self.seed).sample(sorted(want), min(self.SAMPLE, len(want)))
        got = dict(
            spark.read.parquet(self.detail_dir)
            .filter(F.col("message_id").isin(sample))
            .select("message_id", crypto.aes_decrypt_b64(F.col("stanza")).alias("plain"))
            .collect()
        )
        bad = [m for m in sample if got.get(m) != want[m]]
        return [f"{len(bad)} of {len(sample)} sampled stanzas do not decrypt to the "
                f"generated text, e.g. {bad[0]}: {got.get(bad[0])!r}"] if bad else []
