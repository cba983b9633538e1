"""Workload definitions: the registered queries each batch workload
runs, and the streaming workload's generated input, its pipelines and
their expected output."""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Builders that loop: connected components (min-label propagation) and
# the ancestor rollup (pointer jumping) run Spark jobs from the builder,
# round after round, while Lloyd's k-means iterates inside execution and
# is the in-workload contrast.
ITERATIVE = ["dedup_clusters", "hierarchy_rollup", "kmeans_clusters"]

# The paper's pipeline (plans/pipeline_q.py): self-heal, queue lookup,
# enqueue, fetch, decide, write-back, notes; plus the Python-UDF
# extractors the fetch/decide steps lean on.
JOBLINK_ETL = [
    "header_self_heal",
    "queue_tracker_lookup",
    "enqueue_antijoin",
    "fetch_cascade",
    "decide_cascade",
    "writeback_incremental",
    "notes_template",
    "llm_json_extract",
    "html_signals",
]

# The TPC-H-shaped queries of plans/relational.py: execution-dominated,
# no job runs while a builder runs.
ANALYTICS = [
    "top_orders_per_customer", "customers_without_orders",
    "customers_with_open_orders", "order_priority_rollup",
    "customer_order_coverage", "forecast_revenue", "late_order_priority",
    "nation_market_share", "returned_item_report", "shiplag_priority_counts",
    "product_type_profit", "important_stock", "customer_order_distribution",
    "supplier_part_variety", "promo_stock_suppliers", "small_quantity_revenue",
    "sole_returned_supplier", "top_revenue_supplier", "volume_shipping",
    "promo_revenue_share", "large_volume_customers", "disjunctive_revenue",
    "acctbal_prospects", "pricing_summary", "duplicate_guard",
    "parts_never_ordered", "zorder_key", "hilbert_key", "salted_join_agg",
    "lineitem_cube", "revenue_by_nation", "top_revenue_orders",
]

BATCH = {"iterative": ITERATIVE, "joblink_etl": JOBLINK_ETL, "analytics": ANALYTICS}
WORKLOADS = ("iterative", "stream_ingest", "joblink_etl", "analytics")

# ---- stream_ingest ------------------------------------------------------

EVENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01", "events.parquet")
STREAM_FILES = 3  # per pipeline, one file per micro-batch
SAMPLE_ROWS = 4800  # events sampled per pipeline, of the table's 10000
K_ANON = 5
N_COHORTS = 50

ENQUEUE_COLS = ["sheet_name", "row_index", "url"]
GATE_COLS = ["qi_type", "qi_cohort", "event_id", "class_n", "releasable"]


def _write_files(dirname: str, tables: list[pa.Table]) -> int:
    """One parquet file per table, with ascending mtimes so the file
    source reads them in order. Returns the bytes written."""
    os.makedirs(dirname)
    total = 0
    for i, t in enumerate(tables):
        path = os.path.join(dirname, f"part-{i:04d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        total += os.path.getsize(path)
    return total


def _chunks(rows: list, n: int) -> list[list]:
    """``rows`` cut into ``n`` contiguous runs of near-equal length."""
    return [rows[len(rows) * i // n : len(rows) * (i + 1) // n] for i in range(n)]


def make_stream_inputs(seed: int, out_dir: str) -> dict:
    """Generate the link and event files for one seed from the events
    table, and the sink rows each pipeline must produce from them.

    Both streams use ``bench_streaming.py``'s projection of the table.
    Links: ``event_type`` is the sheet, ``event_id`` the row and
    ``https://jobs.lever.co/<user_id>/<event_id>`` the URL, edited at
    ``ts``. The seed samples the events and a re-paste share d in
    [0.2, 0.4): after each sampled row, with chance d, a copy of a row
    pasted so far follows. The sequence is in ``ts`` order and cut into
    contiguous files, so no first paste of a key is older than the
    one-hour dedup watermark when it arrives, and exactly one row per
    key must reach the sink. Gate events: ``event_type`` and
    ``user_id % 50`` are the quasi-identifiers; the seed samples the
    events and deals them to files at random, and the expected class
    sizes replay arrival order (file by file, ids ascending within a
    file)."""
    rng = random.Random(seed)
    t = pq.read_table(EVENTS, columns=["event_id", "ts", "user_id", "event_type"])
    events = list(zip(*(t.column(c).to_pylist() for c in t.column_names)))

    dup_share = 0.2 + 0.2 * rng.random()
    pasted: list[tuple] = []
    for eid, ts, uid, etype in sorted(rng.sample(events, SAMPLE_ROWS), key=lambda e: (e[1], e[0])):
        pasted.append((etype, eid, f"https://jobs.lever.co/{uid}/{eid}", ts.replace(tzinfo=dt.timezone.utc)))
        if rng.random() < dup_share:
            pasted.append(rng.choice(pasted))
    link_schema = pa.schema(
        [
            ("sheet_name", pa.string()),
            ("row_index", pa.int64()),
            ("url", pa.string()),
            ("edited_at", pa.timestamp("us", tz="UTC")),
        ]
    )
    link_tables = []
    for part in _chunks(pasted, STREAM_FILES):
        rng.shuffle(part)
        link_tables.append(
            pa.Table.from_pylist([dict(zip(link_schema.names, r)) for r in part], schema=link_schema)
        )
    enqueue_expected = sorted({r[:3] for r in pasted})

    sample = rng.sample(events, SAMPLE_ROWS)
    qi = {eid: (etype, str(uid % N_COHORTS)) for eid, _, uid, etype in sample}
    ids = [e[0] for e in sample]
    gate_tables, gate_expected, class_n = [], [], {}
    for f in range(STREAM_FILES):
        part = sorted(ids[f::STREAM_FILES])
        gate_tables.append(
            pa.table(
                {
                    "event_id": pa.array(part, pa.int64()),
                    "qi_type": [qi[i][0] for i in part],
                    "qi_cohort": [qi[i][1] for i in part],
                }
            )
        )
        for i in part:
            n = class_n[qi[i]] = class_n.get(qi[i], 0) + 1
            gate_expected.append((qi[i][0], qi[i][1], i, n, n >= K_ANON))

    links_dir = os.path.join(out_dir, "links")
    gate_dir = os.path.join(out_dir, "gate_events")
    return {
        "links_dir": links_dir,
        "gate_dir": gate_dir,
        "input_bytes": {
            "enqueue": _write_files(links_dir, link_tables),
            "k_anon_gate": _write_files(gate_dir, gate_tables),
        },
        "expected": {"enqueue": enqueue_expected, "k_anon_gate": gate_expected},
        "cols": {"enqueue": ENQUEUE_COLS, "k_anon_gate": GATE_COLS},
    }


def stream_pipelines(spark, inputs: dict) -> dict:
    """Pipeline name -> builder of its streaming DataFrame; both read
    one file per micro-batch."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from joblink_etl_spark.streaming.pipeline import (
        read_link_stream,
        streaming_enqueue,
        streaming_k_anon_gate,
    )

    gate_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("qi_type", StringType()),
            StructField("qi_cohort", StringType()),
        ]
    )

    def enqueue():
        return streaming_enqueue(
            read_link_stream(spark, inputs["links_dir"], max_files_per_trigger=1)
        )

    def k_anon_gate():
        src = (
            spark.readStream.schema(gate_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(inputs["gate_dir"])
        )
        return streaming_k_anon_gate(src, ["qi_type", "qi_cohort"], k=K_ANON)

    return {"enqueue": enqueue, "k_anon_gate": k_anon_gate}
