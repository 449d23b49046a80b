"""Streaming compaction packer (T19): incremental bin assignment for
arriving documents — the streaming twin of the batch planner
``operators/layout.py compaction_bins``.

A streaming ingest that lands one file per micro-batch produces exactly
the small-file problem the batch planner exists to repair; assigning each
document to its target-sized output chunk AS IT ARRIVES removes the repair
pass. Per-language state is ONE scalar (the running character total), so
state size is |languages| regardless of traffic; output is one assignment
row per document (append semantics — an assignment is never revised,
which is what makes the downstream writer idempotent per bin).

The assignment rule is the batch planner's: a document's bin is
``floor(chars_before_it / target)`` — bins overflow by at most one
document rather than splitting documents. Within a micro-batch documents
are ordered by doc_id: the keyed-state fold (``stateful._fold_update``)
hands the packer a language's whole micro-batch as one frame, so the order
holds however many Arrow chunks Spark split it into. Across micro-batches
the scan runs in arrival order — the inherent contract of incremental
packing (a bin, once fed, cannot be retroactively re-packed by a late
doc). When arrival order IS doc_id order, the assignments equal the batch
planner's lang-global form (agreement tests in tests/test_streaming.py)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from ..operators.layout import COMPACT_TARGET_CHARS
from .stateful import DAY_MS, _fold_update, _keyed_fold

PACK_OUT_SCHEMA = (
    "lang string, doc_id long, bin_id long, bin_fill_chars long"
)
PACK_STATE_SCHEMA = "cum long"


def pack_scan(rows, cum: int = 0, target: int = COMPACT_TARGET_CHARS):
    """Assign ``rows`` (iterable of (doc_id, n_chars)) to bins from a
    running character total ``cum``: bin = cum_before // target; returns
    (assignments, new_cum) where each assignment is
    (doc_id, bin_id, bin_fill_chars) and bin_fill_chars is the bin's
    running fill AFTER this doc (the writer's flush signal).

    Pure function shared by the streaming state update, the tests'
    driver-side replay, and the batch-agreement check."""
    out = []
    for doc_id, n in rows:
        bin_id = cum // target
        cum += int(n)
        out.append((int(doc_id), int(bin_id), cum - bin_id * target))
    return out, cum


def _pack_fold(pdf: pd.DataFrame, state):
    ordered = pdf.sort_values("doc_id")
    assignments, cum = pack_scan(
        zip(ordered["doc_id"].tolist(), ordered["n_chars"].tolist()), state[0]
    )
    return assignments, (int(cum),)


# idle languages expire in a day
_update_pack = _fold_update(_pack_fold, (0,), PACK_OUT_SCHEMA, DAY_MS)


def pack_documents_stateful(docs: DataFrame) -> DataFrame:
    """Per-language streaming bin packer via ``applyInPandasWithState``:
    each arriving document gets its output-chunk assignment immediately;
    state is one running total per language. Update mode, but rows are
    append-semantic (each doc_id emitted exactly once, never revised)."""
    return _keyed_fold(
        docs, "lang", _update_pack, PACK_OUT_SCHEMA, PACK_STATE_SCHEMA
    )
