"""What the benchmark runs and how a result is checked: the workloads,
the seeded query order, and the order-insensitive result hash shared by
the engine side (Spark rows) and the oracle side (DuckDB tuples)."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")

#: Cores of the benchmark's one Spark session (``local[4]``).
CPUS = 4
#: Scale factor of the test tables that ``gen.py`` mirrors.
SF = 0.01

WORKLOADS: dict[str, list[str]] = {
    "ehr_etl": [
        "pipeline_vitals", "pipeline_resp_support",
        "pipeline_admission_diagnosis", "pipeline_scores",
        "pipeline_adt", "pipeline_labs", "pipeline_demographics",
        "pipeline_encounter_dispo", "pipeline_med_admin_continuous",
        "pipeline_dialysis", "j7_asof_join", "j8_interval_join",
    ],
    "web_graph": [
        "web_pagerank_weighted_warm", "web_host_components", "web_host_scc",
    ],
    "curation_store": [
        "web_bm25f_incremental", "dedup_screen_persisted",
        "u13_lsm_size_tiered", "web_anchor_text",
        "ann_cosine_topk_arrow", "mm_jpeg_pixel_stats",
    ],
}

ALL_QUERIES = [q for qs in WORKLOADS.values() for q in qs]


def pass_order(queries: list[str], seed: int) -> list[str]:
    """The query order of the pass: a permutation drawn from the seed."""
    order = list(queries)
    random.Random(seed).shuffle(order)
    return order


# --- order-insensitive result hash --------------------------------------


def _canon(v):
    """One canonical form for a value from either engine: null-likes
    (None/NaN) are one class, ints and floats stay distinct, structs
    (Spark Row / DuckDB dict) become field tuples."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, decimal.Decimal):
        return ("f", repr(float(v)))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("y", bytes(v).hex())
    if isinstance(v, (datetime.datetime, datetime.date)):
        return ("t", v.isoformat())
    if isinstance(v, dict):
        return ("s", tuple(_canon(x) for x in v.values()))
    if isinstance(v, tuple) and hasattr(v, "__fields__"):  # pyspark Row
        return ("s", tuple(_canon(x) for x in v))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    return ("o", str(v))


def result_hash(rows) -> str:
    """sha256 over the sorted canonical rows: equal for the same multiset
    of rows whatever their order."""
    lines = sorted(repr(tuple(_canon(x) for x in r)) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def check(expect: dict, rows, columns: list[str]) -> bool:
    """Same columns as the oracle and hash-equal rows."""
    return columns == expect["columns"] and result_hash(rows) == expect["hash"]
