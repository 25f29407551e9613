"""Seeded transcript tables for the pipeline benchmark.

The program never generates or labels its own inputs: every table here is
made with numpy and written with pyarrow before Spark starts, and the
planted mentions are kept as the oracle.

The graph's shape (which turn mentions which popularity rank under which
template) comes from a fixed stream, so the amount of work does not move
with the seed. The seed chooses identities (which id of the full range
each rank gets), surface variants and filler sentences.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# id range per entity kind: ids are drawn from the whole range, so ids
# such as person_11 / person_111 occur (see canon.false_merges)
KIND_RANGE = {"person": 5000, "org": 3000, "city": 2000}
ZIPF_S = 1.05

# (template, subject kind, predicate, object kind); the relation phrases
# are the ones the program's extractor recognises
TEMPLATES = (
    ("{A} works at {B} these days.", "person", "works_at", "org"),
    ("{A} lives in {B} now.", "person", "lives_in", "city"),
    ("I heard that {A} knows {B}.", "person", "knows", "person"),
    ("{A} is based in {B}.", "org", "based_in", "city"),
)
FILLERS = (
    "nothing noteworthy happened in this turn.",
    "could you summarise the last answer?",
    "thanks, that helps a lot.",
    "let me check the numbers again.",
)
TOOLS = ("search", "calculator", "browser")
SHAPE_SEED = 7_130_419
EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def _zipf_ranks(rng: np.random.Generator, n: int, size: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return rng.choice(n, size=size, p=p / p.sum())


def surface(kind: str, idx: int, variant: int) -> str:
    """The three surface variants of one entity id."""
    if variant == 0:
        return f"{kind.capitalize()}_{idx}"
    if variant == 1:
        return f"{kind} {idx}"
    return f"{kind.upper()}-{idx}"


def identities(seed: int) -> dict[str, np.ndarray]:
    """Popularity rank -> id number, per kind: a seeded permutation of
    the whole id range."""
    rng = np.random.default_rng([seed, 1])
    return {k: rng.permutation(n) for k, n in KIND_RANGE.items()}


def transcripts(
    seed: int, n_convs: int, turns: int, stream: int, first_conv: int = 0
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(transcripts, planted mentions) for conversations
    ``first_conv .. first_conv + n_convs - 1``.

    ``stream`` picks the fixed shape stream, so a base table and a batch
    of new conversations get different shapes under one seed."""
    shape = np.random.default_rng([SHAPE_SEED, stream])
    ids = identities(seed)
    pick = np.random.default_rng([seed, 2, stream])
    n = n_convs * turns
    conv = first_conv + np.arange(n) // turns
    turn = np.arange(n) % turns
    tmpl = shape.integers(0, len(TEMPLATES) + 1, n)  # == len -> filler
    is_tool = shape.random(n) < 0.2
    tool = np.where(is_tool, np.array(TOOLS)[shape.integers(0, 3, n)], "")
    ranks = {k: _zipf_ranks(shape, KIND_RANGE[k], 2 * n) for k in KIND_RANGE}
    variants = pick.integers(0, 3, (n, 2))
    fillers = pick.integers(0, len(FILLERS), n)

    conv_ids = [f"conv{c:08d}" for c in conv]
    texts, mentions = [], []
    for i in range(n):
        t = tmpl[i]
        if t == len(TEMPLATES):
            text = FILLERS[fillers[i]]
        else:
            form, sk, pred, ok = TEMPLATES[t]
            sr = ranks[sk][2 * i]
            orank = ranks[ok][2 * i + 1]
            if sk == ok and orank == sr:
                orank = (orank + 1) % KIND_RANGE[ok]
            si, oi = int(ids[sk][sr]), int(ids[ok][orank])
            text = form.format(
                A=surface(sk, si, variants[i, 0]),
                B=surface(ok, oi, variants[i, 1]),
            )
            mentions.append(
                (conv_ids[i], int(turn[i]), f"{sk}_{si}", pred, f"{ok}_{oi}")
            )
        if is_tool[i]:
            text = f"[{tool[i]}] {text}"
        texts.append(text)
    role = np.where(is_tool, "tool", np.where(turn % 2 == 0, "user", "assistant"))
    table = pd.DataFrame(
        {
            "conv_id": conv_ids,
            "turn_idx": turn.astype("int32"),
            "role": role,
            "text": texts,
            "tool": tool,
            "ts": EPOCH + (conv * 97 + turn * 13).astype("timedelta64[s]"),
        }
    )
    planted = pd.DataFrame(
        mentions, columns=["conv_id", "turn_idx", "subj", "pred", "obj"]
    )
    return table, planted


def write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
