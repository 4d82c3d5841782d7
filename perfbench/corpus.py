"""Seeded transcript corpora for the benchmark, with their planted answers.

Every corpus is a pure function of ``(kind, turns, seed)``, built with
numpy and written with pyarrow, so the same seed gives the same parquet on
any machine, no input file is read, and no Spark job runs before the
timed build. Two shapes:

* ``wide`` — the lineitem-shaped corpus of
  ``scripts/e2e_pipeline_scale.py:build_corpus`` at one replica: each turn
  is one order line and states seven facts about its supplier, part and
  order (four relation statements, three ``is_a`` typings into a planted
  two-level class tree), between hex filler. TPC-H ratios of 4 lines per
  order, 1/3 part and 1/60 supplier per line, so entities grow with turns.
* ``narrow`` — the same turn count and seven statements per turn, drawn
  from the ~50-entity ``synth.entity_vocab`` (six relation statements and
  one typing into ``synth.CLASS_TREE``). Entity count is fixed, so the
  entity-proportional stages shrink to their fixed cost while extract and
  encode do the same work as on ``wide``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from sparktax import synth

SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.date32()),
])
STATEMENTS_PER_TURN = 7
FILLER = (
    "ok so looking at the result of the tool call we see that",
    "then checked the next row and found note value",
    "the quantity field reads",
    "also maybe worth noting before the type statements that",
    "which is fine so then",
    "and here",
    "done",
)

# planted class tree of the wide corpus (build_corpus's META_STATEMENTS)
WIDE_META = (
    [(f"K{j}", "is_a", "KM") for j in range(8)]
    + [(f"T{j}", "is_a", "TM") for j in range(4)]
    + [(f"W{j}", "is_a", "WM") for j in range(6)]
    + [("KM", "is_a", "THING"), ("TM", "is_a", "THING"), ("WM", "is_a", "THING")]
)
NARROW_META = sorted((c, "is_a", p) for c, p in synth.CLASS_TREE.items())


def _wide(rng: np.random.RandomState, turns: int) -> list[list[tuple]]:
    ok = np.arange(turns) % max(turns // 4, 1) + 1
    pk = rng.randint(1, max(turns // 3, 1) + 1, turns)
    sk = rng.randint(1, max(turns // 60, 1) + 1, turns)
    return [
        [
            (f"S{s}", "supplies_part", f"P{p}"),
            (f"P{p}", "belongs_to", f"O{o}"),
            (f"O{o}", "handled_by", f"S{s}"),
            (f"S{s}", "reports_to", f"S{s + 1}"),
            (f"P{p}", "is_a", f"K{p % 8}"),
            (f"S{s}", "is_a", f"T{s % 4}"),
            (f"O{o}", "is_a", f"W{o % 6}"),
        ]
        for o, p, s in zip(ok.tolist(), pk.tolist(), sk.tolist())
    ]


def _narrow(rng: np.random.RandomState, turns: int) -> list[list[tuple]]:
    vocab = synth.entity_vocab()
    leaf = [
        "Company" if e in synth._ORGS else "City" if e in synth._PLACES
        else ("Scientist", "Engineer")[i % 2]
        for i, e in enumerate(vocab)
    ]
    preds = synth.PREDICATES[1:]
    n, k = len(vocab), STATEMENTS_PER_TURN - 1
    subj = rng.randint(0, n, (turns, k))
    obj = (subj + rng.randint(1, n, (turns, k))) % n  # never the subject
    pred = rng.randint(0, len(preds), (turns, k))
    typed = rng.randint(0, n, turns)
    return [
        [(vocab[s], preds[p], vocab[o]) for s, p, o in zip(ss, pp, oo)]
        + [(vocab[t], synth.ISA, leaf[t])]
        for ss, pp, oo, t in zip(subj.tolist(), pred.tolist(), obj.tolist(), typed.tolist())
    ]


def digest(statements: pd.DataFrame) -> int:
    """Order-free digest of a multiset of ``(subj, pred, obj)`` rows."""
    rows = pd.util.hash_pandas_object(statements[["subj", "pred", "obj"]], index=False)
    return int(rows.sum())


def write(kind: str, turns: int, seed: int, out_dir: str, files: int) -> pd.DataFrame:
    """Write the corpus as ``files`` parquet files under ``out_dir``;
    returns the planted ``(subj, pred, obj)`` statements, one row per
    statement the extractor must recover."""
    rng = np.random.RandomState(seed)
    per_turn = {"wide": _wide, "narrow": _narrow}[kind](rng, turns)
    meta = WIDE_META if kind == "wide" else NARROW_META
    # lowercase hex filler can never match the statement grammar
    hexes = [f"{x:016x}" for x in rng.randint(0, 2**62, (turns, STATEMENTS_PER_TURN), dtype=np.int64).ravel()]
    texts = []
    for i, stmts in enumerate(per_turn):
        words = []
        for j, (s, p, o) in enumerate(stmts):
            words += [FILLER[j], s, p, o, ".", hexes[i * STATEMENTS_PER_TURN + j]]
        texts.append(" ".join(words))
    days = rng.randint(0, 2500, turns)
    turn = np.arange(turns)
    df = pd.DataFrame({
        "conv_id": [f"c{t // 8}" for t in turn.tolist()],
        "turn_idx": (turn % 8).astype("int32"),
        "role": "assistant",
        "text": texts,
        "tool": "",
        "ts": (np.datetime64("1992-01-01") + days.astype("timedelta64[D]")).tolist(),
    })
    meta_df = pd.DataFrame({
        "conv_id": "meta-0",
        "turn_idx": np.arange(len(meta), dtype="int32"),
        "role": "assistant",
        "text": [f"{s} {p} {o}." for s, p, o in meta],
        "tool": "",
        "ts": None,
    })
    table = pa.Table.from_pandas(pd.concat([df, meta_df], ignore_index=True), SCHEMA, preserve_index=False)
    os.makedirs(out_dir)
    step = -(-table.num_rows // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), os.path.join(out_dir, f"part-{f:05d}.parquet"))
    rows = [st for stmts in per_turn for st in stmts] + list(meta)
    return pd.DataFrame(rows, columns=["subj", "pred", "obj"])
