"""Incremental KG construction over a transcript STREAM (§2.8 extension;
north-rule axes A+B): stateful per-conversation triple emission whose
output converges to the batch `operators.triples.emit_triples` exactly.

Why stateful: the relation heuristic is a ±W turn window
(semantics/triples.py), so a triple anchored at turn t can depend on turns
up to t+W — turn t only FINALIZES once the conversation's clock (max
turn_idx seen) reaches t+W.  The operator therefore keeps, per conv_id, a
GroupState buffer of the un-finalized turn tail (turn metadata + detected
mentions), and on every micro-batch:

  1. runs the frozen detection kernel on the batch's new turns (same
     `detect_mentions_batch` the batch path uses — one Python stage total),
  2. appends them to the buffer,
  3. finalizes every anchor t <= max_seen - W by running the shared
     `emit_triples_for_conv` semantics over the buffered window and
     emitting exactly the triples anchored at newly-final turns,
  4. prunes the buffer to the context still needed (>= next_final - W)
     and stores it back as the new state.

Emission is therefore append-only, per-(turn, subj, pred, obj) exactly
once, and — for in-order per-conv arrival — a prefix-stable subset of the
batch output that becomes EQUAL to it once every turn's window closes.
Two window-closing mechanisms are implemented: END-OF-CONVERSATION
marker turns (`write_conv_ordered_source` appends W inert turns per
conv — the deterministic path the driver board row uses) and a
processing-time state TTL (`ttl_ms`) that flushes and drops a
conversation that goes quiet without a marker (VERDICT r3 #6).

Ordering assumption: per-conv turn_idx arrives monotonically across
micro-batches (the transcript source is append-ordered per conversation).
A turn arriving AFTER its window was finalized is dropped and COUNTED in
the state blob's `late` field (the processing-time analogue of a
watermark discard — observable, never silently double-emitted).

State is a JSON blob (one string column): applyInPandasWithState state
structs are fixed-schema, and the buffer is a small variable-length tail
(<= 2W+batch turns/conv), so a compact JSON string is the scale-correct
encoding — state size is bounded by the window, not the conversation.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..semantics.detect import Mention, detect_mentions_batch
from ..semantics.registry import is_valid_text
from ..semantics.triples import WINDOW_W, emit_triples_for_conv

STREAM_TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.LongType()),
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
    ]
)

_KG_STATE = T.StructType([T.StructField("blob", T.StringType())])


def _detect_rows(texts: list[str], strategy: str) -> list[list[list]]:
    """Compact [(etype, norm, start), ...] per text — only the fields the
    triple rules consume (entity_type for routing/PII, norm_surface for
    refs, start for the contacts_via tie-break)."""
    out = []
    for mentions, _ in detect_mentions_batch(texts, strategy=strategy):
        out.append(
            [[m.entity_type, m.norm_surface, int(m.start)] for m in mentions]
        )
    return out


def write_conv_ordered_source(dst_dir, transcripts_pdf,
                              span: int = 5,
                              window: int = WINDOW_W):
    """Build a file-stream source directory whose files slice the
    transcript by turn_idx range (per-conv arrival stays monotonic
    across micro-batches) and whose final file carries `window` inert
    END-OF-CONVERSATION marker turns per conv (empty text, no tool —
    they advance the conversation clock past every real turn so all
    windows finalize, the marker mechanism the module docstring names).
    Shared by the streaming-triples tests and the driver board row."""
    from pathlib import Path

    dst = Path(dst_dir)
    dst.mkdir(parents=True, exist_ok=True)
    full = transcripts_pdf.copy()
    # all-None object slices write null-typed parquet (reads as INT32)
    # and break the stream's string schema — pin dtypes (CLAUDE.md)
    full["tool"] = full["tool"].astype("string")
    full["text"] = full["text"].astype("string")
    n_files = int(full["turn_idx"].max()) // span + 1
    for k in range(n_files):
        sub = full[(full["turn_idx"] >= k * span)
                   & (full["turn_idx"] < (k + 1) * span)]
        if len(sub):
            sub.to_parquet(dst / f"part-{k:03d}.parquet", index=False)
    eos_rows = []
    for conv_id, grp in full.groupby("conv_id"):
        last = int(grp["turn_idx"].max())
        for w in range(1, window + 1):
            eos_rows.append(
                (conv_id, last + w, "system", "", None, grp["ts"].iloc[0])
            )
    eos = pd.DataFrame(
        eos_rows,
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    ).astype({"turn_idx": "int32"})
    # streaming parquet readers reject nano timestamps (CLAUDE.md)
    eos["ts"] = eos["ts"].astype("datetime64[us]")
    eos["tool"] = eos["tool"].astype("string")
    eos.to_parquet(dst / f"part-{n_files:03d}-eos.parquet", index=False)
    return dst


def streaming_triples(transcripts_stream: DataFrame,
                      window: int = WINDOW_W,
                      strategy: str = "priority",
                      ttl_ms: int | None = None) -> DataFrame:
    """transcripts stream (conv_id, turn_idx, role, text, tool, ts) ->
    append-only (conv_id, turn_idx, subj, pred, obj) triples, finalized
    per turn as soon as the conversation advances `window` turns past it.

    `ttl_ms` arms a processing-time state TTL: a conversation that goes
    quiet for ttl_ms without an end-of-conversation marker is treated as
    ended — its remaining buffered anchors finalize (the tail triples
    emit) and its state is dropped.  This is the never-quiescing-conv
    escape hatch (VERDICT r3 #6); window-advance finalization stays the
    primary, deterministic path."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    fn = make_triples_state_fn(window=window, strategy=strategy,
                               ttl_ms=ttl_ms)
    return (
        transcripts_stream.select("conv_id", "turn_idx", "text", "tool")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=STREAM_TRIPLES_SCHEMA,
            stateStructType=_KG_STATE,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if ttl_ms is not None else GroupStateTimeout.NoTimeout
            ),
        )
    )


def make_triples_state_fn(window: int = WINDOW_W,
                          strategy: str = "priority",
                          ttl_ms: int | None = None):
    """The per-conversation state-transition function behind
    `streaming_triples`, exposed at module level so the TTL/tombstone
    transitions are unit-testable against a fake GroupState
    (tests/test_streaming_triples.py TestTombstoneTransitions) —
    streaming-engine timing can't race a direct call."""

    def _finalize(conv_id: str, st: dict, buf: dict,
                  finalize_to: int) -> list[tuple]:
        """Emit triples anchored at every unfinalized t <= finalize_to,
        advance st['final'], and prune the buffer in place."""
        new_final = [t for t in buf if st["final"] < t <= finalize_to]
        if not new_final:
            return []
        turns = sorted((t, tool) for t, (tool, _) in buf.items())
        by_turn = {
            t: [
                Mention(i, et, s, s, 0.0, nm, nm)
                for i, (et, nm, s) in enumerate(ments)
            ]
            for t, (_, ments) in buf.items()
        }
        triples = emit_triples_for_conv(conv_id, turns, by_turn, window)
        anchor_set = set(new_final)
        rows = [
            (conv_id, t, s, p, o)
            for (t, s, p, o) in triples
            if t in anchor_set
        ]
        st["final"] = max(new_final)
        keep_from = st["final"] + 1 - window
        for t in [t for t in buf if t < keep_from]:
            del buf[t]
        return rows

    def fn(key, pdfs, state):
        conv_id = key[0]
        if state.exists:
            st = json.loads(state.get[0])
        else:
            st = {"final": -1, "buf": [], "late": 0}

        # buf: [[turn_idx, tool, [[etype, norm, start], ...]], ...] sorted
        buf = {int(t): (tool, ments) for t, tool, ments in st["buf"]}

        if ttl_ms is not None and state.hasTimedOut:
            # conversation went quiet past the TTL with no EOS marker:
            # treat as ended — flush every pending anchor.  The state is
            # NOT removed immediately (ADVICE r4: remove() discarded the
            # 'final' watermark, so a conv resuming after a TTL flush
            # re-emitted already-final anchors as duplicates): a
            # TOMBSTONE keeps 'final' with an empty buffer and re-arms
            # the timeout, so a straggler turn <= final is late-dropped
            # exactly like the in-flight case.  Only a SECOND quiet TTL
            # period removes the tombstone (bounded state) — exactly-once
            # is guaranteed unless a conv resumes after two full quiet
            # TTLs, the documented residual window
            # (tests/test_streaming_triples.py::
            #  test_streaming_triples_resume_after_ttl_no_duplicates).
            if st.get("flushed") and not buf:
                state.remove()
                return
            rows = _finalize(conv_id, st, buf, max(buf, default=-1))
            st["flushed"] = True
            st["buf"] = []
            state.update((json.dumps(st),))
            state.setTimeoutDuration(ttl_ms)
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["conv_id", "turn_idx", "subj", "pred", "obj"],
                )
            return

        late_dropped = 0

        for pdf in pdfs:
            texts, metas = [], []
            for row in pdf.itertuples(index=False):
                t = int(row.turn_idx)
                if t <= st["final"]:
                    late_dropped += 1  # window already closed: drop, count
                    continue
                tool = None if (row.tool is None or row.tool != row.tool) \
                    else row.tool
                if is_valid_text(row.text):
                    texts.append(row.text)
                    metas.append((t, tool, True))
                else:
                    metas.append((t, tool, False))
            detected = iter(_detect_rows(texts, strategy))
            for t, tool, has_text in metas:
                ments = next(detected) if has_text else []
                buf[t] = (tool, ments)

        rows: list[tuple] = []
        if buf:
            rows = _finalize(conv_id, st, buf, max(buf) - window)
            st["flushed"] = False  # conv resumed: tombstone re-activates

        # the late-discard counter lives IN the state blob so watermark
        # discards are observable, not just asserted (ADVICE r3)
        st["late"] = st.get("late", 0) + late_dropped
        st["buf"] = [[t, tool, ments]
                     for t, (tool, ments) in sorted(buf.items())]
        state.update((json.dumps(st),))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if rows:
            yield pd.DataFrame(
                rows,
                columns=["conv_id", "turn_idx", "subj", "pred", "obj"],
            )

    return fn
