"""The benchmark's workloads: which registered queries each one runs.

Every workload is a closed loop with one client: one query at a time,
in an order the seed permutes, over the same read-only parquet
fixtures.  A pass runs every query of the workload once; the program's
derived caches are cleared at the start of each pass, so the first
query that needs a shared model or prediction table pays for it and
later ones reuse it, as in a long-lived session.
"""

from __future__ import annotations

import random

WORKLOADS: dict[str, tuple[str, ...]] = {
    # The paper's surface (ml.antidote / ml.als / ml.recsys): Algorithm 1
    # (q_antidote_loop) and its single step, two ALS queries that share
    # one cached model, and two social-metric queries that share one
    # cached bias-prediction table.  Driver round-trips, MLlib fits and
    # driver-side numpy dominate.
    "recsys": (
        "q_antidote_loop",
        "q_antidote_step",
        "q_als_train_predict",
        "q_als_rmse_gate",
        "q_polarization",
        "q_fairness_parity",
    ),
    # An ingest-to-dedup data pipeline: a watermarked file stream,
    # partitioned parquet and CSV/JSON sinks, then text counts, exact and
    # connected-component dedup (an iterative join loop), an embedding
    # pair join and an Arrow/pandas kernel in the Python workers.  No
    # MLlib fit.
    "pipeline": (
        "q_stream_tumbling_watermark",
        "q_sink_partitioned_parquet",
        "q_source_csv_json_roundtrip",
        "q_text_wordcount",
        "q_dedup_exact",
        "q_dedup_components",
        "q_multimodal_features",
        "q_embed_neardup",
    ),
}


def order(queries: tuple[str, ...], seed: int) -> list[str]:
    """The workload's queries in the order ``seed`` chooses."""
    return random.Random(seed).sample(list(queries), len(queries))
