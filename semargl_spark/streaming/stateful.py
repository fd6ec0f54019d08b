"""Custom stateful streaming operator (SURVEY.md §2.11).

The reference's only cross-statement state is *intra-document* deferral;
cross-conversation state is new target-side capability: a per-
conversation progress accumulator maintained with
``applyInPandasWithState`` — Arrow-batched, one state row per conv_id,
surviving across micro-batches (the streaming analogue of the per-
partition lineage/metrics rows the north_rule requires).

Scale notes: state is keyed by conv_id (the natural shuffle key — the
same partitioning the extraction output already has when bucketed by
conversation), each state value is three fixed-width numbers, and the
HDFS-backed state store checkpoints per micro-batch, which is what makes
the stream resumable. Counts are monotone, so replayed batches after a
failure re-emit larger-or-equal totals and downstream consumers can
take the max."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

OUT_SCHEMA = "conv_id string, statements long, errors long, last_turn int"
STATE_SCHEMA = "statements long, errors long, last_turn int"


def _update(key, pdfs, state):
    stmts, errs, last = state.get if state.exists else (0, 0, -1)
    for pdf in pdfs:
        n_err = int((pdf["obj_kind"] == "error").sum())
        errs += n_err
        stmts += len(pdf) - n_err
        if len(pdf):
            last = max(last, int(pdf["turn_idx"].max()))
    state.update((stmts, errs, last))
    yield pd.DataFrame(
        [(key[0], stmts, errs, last)],
        columns=["conv_id", "statements", "errors", "last_turn"],
    )


def conversation_progress(statements: DataFrame) -> DataFrame:
    """Streaming statements → running per-conversation totals.

    ``statements`` must be a streaming DataFrame with the statements
    schema; returns an update-mode stream of
    (conv_id, statements, errors, last_turn)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return statements.groupBy("conv_id").applyInPandasWithState(
        _update,
        OUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
