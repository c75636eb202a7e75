"""The two workloads: which registered queries and streaming twins each
pass runs, and how each result is checked.

``sf`` sizes the generated tables (``datagen.row_counts``). A query is
checked against its DuckDB oracle, or, where that oracle replays a
codec in a recursive CTE and takes about a minute, against the digest
``record_digests.py`` stored after matching the oracle once. A streaming
twin is checked against the oracle of its batch twin on the whole table.
"""

from __future__ import annotations

SF = 0.005

#: the codec rows are sized by the document count alone; at 500 documents
#: the Python workers' share of the tree's CPU is near its sf0.1 level
WORKLOAD_SF = {"codec_python": 0.01}

#: scale of the smoke check (``smoke.py``)
SMOKE_SF = 0.001

#: streaming twin -> (feed table, batch twin)
TWINS = {
    "run_streaming_heavy_hitters": ("events", "events_heavy_hitter_profile"),
    "run_streaming_mv_maintenance": ("orders", "incremental_agg_maintenance"),
}

#: files each streaming feed is split into (one micro-batch each)
FEED_FILES = 3

#: (clients, copies): client threads of the benchmark process sharing
#: one session, and how many times each timed pass runs every item. The
#: clients take the pass's item runs off one queue. With one client the
#: relational and streaming rows wait on the driver with about one of the
#: four cores busy, which makes their times follow the host's steal time;
#: four clients keep about 2.5 cores busy. The Python workers of the
#: codec rows keep the cores busy with one client.
CLIENTS = {"relational_sql": (4, 2), "codec_python": (1, 1)}

#: nominal seconds per timed pass on 4 cores (a quiet host); a run makes
#: ``max(2, round(seconds / PASS_SECONDS[workload]))`` timed passes
PASS_SECONDS = {
    "relational_sql": 6.0,
    "codec_python": 4.8,
}

#: queries whose oracle is too slow to run per benchmark run
DIGESTED = ("multimodal_h264_annexb_roundtrip", "multimodal_mcv_roundtrip")

WORKLOADS: dict[str, list[str]] = {
    "relational_sql": [
        "wordcount",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q10_returned_item_customers",
        *TWINS,
    ],
    "codec_python": [
        "multimodal_h264_annexb_roundtrip",
        "multimodal_mcv_roundtrip",
    ],
}
