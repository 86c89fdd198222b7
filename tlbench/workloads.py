"""Benchmark inputs, their measured properties, and output checks.

Every input comes from ``translink.fixtures.generate`` with the run's
seed; the engine only ever sees the DataFrames (and, for the streaming
leg, the parquet drops) built here.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F

from translink import fixtures

#: Base conversations of the dedup corpus: 600 (~8.5k turns) keeps the cold
#: pass inside the per-run budget while scoring and clustering still see
#: hundreds of planted groups. It is drawn from a pool twice as large.
DEDUP_PROFILE, DEDUP_BASE, DEDUP_POOL = "tlbench_dedup", 600, 2
#: Base conversations of the linkage corpus before the A/B split. The
#: per-record shingle prep is quadratic in a conversation's tokens, so a
#: tenth of the dedup size gives a pass of similar length. It is drawn
#: from a pool 16x larger, so the few longest conversations that dominate
#: the prep cost are not left to the luck of one seed.
LINK_PROFILE, LINK_BASE, LINK_POOL = "tlbench_link", 100, 16
#: Landing-dir files for the streaming leg; the file source takes four
#: per trigger, so eight drops make two micro-batches.
DROPS = 8
#: Population shares of the fixture, by a base index's ``i % 100`` range:
#: unique, exact group, near group, confusable pair, edge case.
CATEGORY_SHARES = (70, 15, 10, 4, 1)

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])


def generate(profile: str, seed: int) -> dict:
    """The fixture of a pool ``*_POOL`` times the profile's base size, from
    which ``select_bases`` draws the measured corpus."""
    fixtures.PROFILE_SIZES.setdefault(DEDUP_PROFILE, DEDUP_BASE * DEDUP_POOL)
    fixtures.PROFILE_SIZES.setdefault(LINK_PROFILE, LINK_BASE * LINK_POOL)
    return fixtures.generate(profile, seed=seed)


def base_index(conv_ids: pd.Series) -> pd.Series:
    """The fixture's base index of each conversation id
    (``conv_000123_dup1`` -> 123); -1 for the hot-key group."""
    is_base = conv_ids.str.startswith("conv_")
    return conv_ids.str.slice(5, 11).where(is_base, "-1").astype(int)


def _category(i: int) -> int:
    r = i % 100
    return sum(r >= edge for edge in (70, 85, 95, 99))


def select_bases(turns: pd.DataFrame, n_base: int) -> set[int]:
    """Base indices of a corpus of ``n_base`` base conversations drawn from
    a larger seeded pool, so that every seed yields the same workload shape.

    Within each population category the pool's base indices are ranked by
    (turns, sum over their conversations of squared word counts) and
    picked at evenly spaced ranks: the picks sit at fixed quantiles of the
    pool. The turn count sets the per-turn rate's denominator and the
    squared words track the quadratic shingle cost, so both then barely
    move between seeds, while every text still comes from the seed.
    The hot-key group (index -1) is always kept."""
    text = turns["text"]
    words = (text.str.count(" ") + (text != "")).groupby(turns["conv_id"])
    per_conv = pd.DataFrame({"turns": words.size(), "sq": words.sum() ** 2})
    per_conv["base"] = base_index(per_conv.index.to_series())
    per = per_conv[per_conv["base"] >= 0].groupby("base")[["turns", "sq"]].sum()
    per = per.reset_index().sort_values(["turns", "sq", "base"])
    cat = per["base"].map(_category)
    keep = {-1}
    for c, share in enumerate(CATEGORY_SHARES):
        ranked = per.loc[cat == c, "base"].tolist()
        want = max(1, round(n_base * share / 100))
        keep.update(ranked[int((k + 0.5) * len(ranked) / want)]
                    for k in range(want))
    return keep


def restrict(fx: dict, keep: set[int]) -> dict:
    """The fixture restricted to the conversations of ``keep``."""
    out = {}
    for name, df in fx.items():
        cols = [c for c in ("conv_id", "conv_id_a", "conv_id_b")
                if c in df.columns]
        mask = pd.Series(True, index=df.index)
        for col in cols:
            mask &= base_index(df[col]).isin(keep)
        out[name] = df[mask]
    return out


def input_properties(fx: dict) -> dict:
    """Shares measured on the generated transcripts themselves: a
    conversation is an exact duplicate when another one has the same turn
    sequence, a near duplicate when it sits in a planted group without
    being an exact duplicate."""
    t = fx["transcripts"].sort_values(["conv_id", "turn_idx"])
    body = (t["role"] + "\x1f" + t["text"] + "\x1f" + t["tool"].fillna(""))
    conv_text = body.groupby(t["conv_id"]).agg("\x1e".join)
    copies = conv_text.map(conv_text.value_counts())
    exact = copies > 1
    ec = fx["expected_clusters"].set_index("conv_id")["cluster_id"]
    grouped = ec.map(ec.value_counts()) > 1
    near = grouped & ~exact.reindex(grouped.index, fill_value=False)
    n = len(conv_text)
    return {
        "turns": len(t),
        "convs": n,
        "exact_dup_share": round(float(exact.sum()) / n, 4),
        "near_dup_share": round(float(near.sum()) / n, 4),
        "hot_key_size": int(copies.max()),
    }


def split_sides(fx: dict) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """A/B corpora with every planted group straddling the split: its
    smallest member goes to A, the next to B, the rest are left out (a
    one-to-one matcher can pair only one of them). Confusable twins go to
    B so each is a hard negative for its A original; other singletons go
    two to A for one to B. Returns (A turns, B turns, cross labels)."""
    ec = fx["expected_clusters"]
    twins = {c[:-3] for c in ec["conv_id"] if c.endswith("_cf")}
    side = {}
    for members in ec.groupby("cluster_id")["conv_id"].apply(sorted):
        if len(members) > 1:
            side[members[0]], side[members[1]] = "a", "b"
        else:
            c = members[0]
            if c in twins:
                side[c] = "a"
            elif c.endswith("_cf"):
                side[c] = "b"
            else:
                side[c] = "b" if int(c[5:11]) % 3 == 2 else "a"
    t = fx["transcripts"]
    s = t["conv_id"].map(side)
    lp = fx["labeled_pairs"]
    sa, sb = lp["conv_id_a"].map(side), lp["conv_id_b"].map(side)
    cross = lp[(sa.notna() & sb.notna() & (sa != sb))]
    return t[s == "a"], t[s == "b"], cross


def digest(transcripts: pd.DataFrame) -> str:
    """Content hash of a generated input, so stored checksums are only
    compared against runs over identical inputs."""
    rows = pd.util.hash_pandas_object(transcripts, index=False)
    return f"{int(rows.sum()) & (2**64 - 1):016x}"


def write_drops(b_turns: pd.DataFrame, landing: str) -> None:
    """B conversations round-robin over ``DROPS`` parquet files, each
    conversation whole inside one drop (the walker contract)."""
    os.makedirs(landing, exist_ok=True)
    convs = sorted(b_turns["conv_id"].unique())
    cols = TRANSCRIPT_SCHEMA.names
    for j in range(DROPS):
        part = b_turns[b_turns["conv_id"].isin(convs[j::DROPS])][cols]
        pq.write_table(
            pa.Table.from_pandas(part, schema=TRANSCRIPT_SCHEMA,
                                 preserve_index=False),
            os.path.join(landing, f"drop_{j:03d}.parquet"),
        )


def checksum(df: DataFrame, cols: list[str]) -> int:
    """Order-free checksum of a result: ``bit_xor(xxhash64(row))``."""
    return int(df.select(F.bit_xor(F.xxhash64(*cols))).first()[0] or 0)


def match_clusters(matches: DataFrame) -> DataFrame:
    """One-to-one matches as ``(conv_id, cluster_id)`` so the pairwise
    scorer treats each matched pair as a two-member cluster."""
    return matches.select(
        F.col("conv_id_a").alias("conv_id"), F.col("conv_id_a").alias("cluster_id")
    ).unionByName(matches.select(
        F.col("conv_id_b").alias("conv_id"), F.col("conv_id_a").alias("cluster_id")
    ))
