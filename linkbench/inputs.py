"""Seeded inputs for the workloads, cached as parquet per (workload, seed).

Every workload is built on ``repostcheckerbot_spark.fixtures.generate``; the
program only ever receives the generated transcripts. Labels (the reference
difflib verdicts) stay on the benchmark side for the F1 check.

- ``batch_reposts``: the fixture's default duplicate mix (exact, turn-permuted,
  near-duplicates at the five ratio bands, chains) and its Zipf-hot ``tool``,
  plus a few viral families whose sizes are Zipf-distributed, each the copies
  of one original. Families above ``max_band_bucket`` members overflow the
  band cap; each smaller one has a single near copy that sorts last and pairs
  with every other member, so one ``conv_id_b`` key carries many scored
  pairs.
- ``incremental_churn``: a corpus of the default mix split into a seed
  warehouse (about 90%) and micro-batches that carry reposts of stored
  conversations, plus a seeded tombstone set per purge.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from collections import Counter
from dataclasses import dataclass

import pandas as pd

from repostcheckerbot_spark.config import DEFAULT_CONFIG as CFG
from repostcheckerbot_spark.fixtures import PLACEHOLDERS, _mutate_turns, generate, reference_ratio

#: Input sizes per workload.
SIZES = {
    "batch_reposts": {"n_conv": 600, "families": 4, "max_family": 200},
    "incremental_churn": {"n_conv": 400, "tick_turns": 300, "warm_up_ticks": 2, "cycles": 2, "ticks_per_cycle": 2, "tombs_per_purge": 4},
}
WORKLOADS = tuple(SIZES)


@dataclass
class Inputs:
    transcripts: pd.DataFrame
    #: conv_id_a < conv_id_b, is_dup (reference ratio > 0.5)
    labels: pd.DataFrame
    #: conv_id → part: -1 = seed warehouse / batch corpus, k ≥ 0 = micro-batch k
    parts: pd.DataFrame
    #: conv_id → purge index (incremental_churn only)
    tombstones: pd.DataFrame
    sizes: dict


def _labels(pairs: pd.DataFrame) -> pd.DataFrame:
    return pairs[["conv_id_a", "conv_id_b", "is_dup"]].drop_duplicates(["conv_id_a", "conv_id_b"]).reset_index(drop=True)


def _family_sizes(transcripts: pd.DataFrame) -> dict:
    """Histogram of family sizes: a family is one base id ``conv<i>`` and
    every conversation derived from it."""
    fam = transcripts["conv_id"].drop_duplicates().str.slice(0, 10).value_counts()
    hist = Counter(int(v) for v in fam)
    return {str(k): hist[k] for k in sorted(hist)}


def _turns_by_conv(transcripts: pd.DataFrame) -> dict[str, list[tuple[str, str]]]:
    """(role, text) per conversation in turn order, placeholder turns dropped
    (the pipeline drops them from the document too)."""
    out: dict[str, list[tuple[str, str]]] = {}
    kept = transcripts[~transcripts["text"].isin(PLACEHOLDERS)]
    for conv_id, g in kept.sort_values(["conv_id", "turn_idx"]).groupby("conv_id", sort=False):
        out[conv_id] = list(zip(g["role"], g["text"]))
    return out


def _add_heavy_families(fx, seed: int, families: int, max_family: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Append Zipf-sized families (size ``max_family / k`` for family k),
    each the copies of one long base conversation; copy ids sort after the
    original. A family above ``max_band_bucket`` is all exact copies: its
    band buckets overflow the cap, its exact group and component are large.
    A smaller family also holds one near copy (``r``, sorting after the
    exact ``c`` copies): every other member pairs with it, so it is the
    ``conv_id_b`` of all the pairs the family scores. Labels, a seeded sample
    per family: the near copy against the original and 8 exact copies (one
    difflib verdict, as they share the text), and 32 exact pairs."""
    rng = random.Random(seed * 7919 + 1)
    tr = fx.transcripts
    fam_count = Counter(c[:10] for c in set(tr["conv_id"]))
    turns = _turns_by_conv(tr)
    originals = sorted(c for c in turns if fam_count[c[:10]] == 1 and len(turns[c]) >= 30)
    meta = tr.drop_duplicates("conv_id").set_index("conv_id")[["tool", "ts"]]
    rows, pairs = [], []
    for k, orig in enumerate(rng.sample(originals, families), start=1):
        size = max(8, round(max_family / k))
        members = [(f"{orig[:-1]}c{j:04d}", turns[orig]) for j in range(size if size > CFG.max_band_bucket else size - 1)]
        exact = [c for c, _ in members]
        if len(exact) < size:
            near = (f"{orig[:-1]}r0000", _mutate_turns(rng, turns[orig], 0.05, 0.0, uniq=f"r{k:03d}x"))
            members.append(near)
            is_dup = reference_ratio("\n".join(t for _, t in turns[orig]), "\n".join(t for _, t in near[1])) > 0.5
            pairs += [(other, near[0], is_dup) for other in [orig, *rng.sample(exact, 8)]]
        pairs += [(orig, e, True) for e in rng.sample(exact, min(len(exact), 32))]
        tool, ts = meta.loc[orig, "tool"], meta.loc[orig, "ts"]
        for cid, conv_turns in members:
            for idx, (role, text) in enumerate(conv_turns):
                rows.append(dict(conv_id=cid, turn_idx=idx, role=role, text=text, tool=tool, ts=ts + pd.Timedelta(hours=1 + idx)))
    extra = pd.DataFrame(rows, columns=tr.columns)
    return (
        pd.concat([tr, extra], ignore_index=True),
        pd.concat([fx.labeled_pairs[["conv_id_a", "conv_id_b", "is_dup"]], pd.DataFrame(pairs, columns=["conv_id_a", "conv_id_b", "is_dup"])], ignore_index=True),
    )


def _churn_split(fx, seed: int, tick_turns: int, ticks: int, n_purges: int, tombs_per_purge: int):
    """Seed warehouse vs micro-batches. Each micro-batch holds just under
    ``tick_turns`` turns, whatever the seed: two thirds reposts whose
    original is in the seed warehouse, one third fresh originals
    (singletons, so every repost's original is stored). Tombstones are
    originals of seeded families, so each purge re-stars or splits a
    cluster."""
    rng = random.Random(seed * 104729 + 2)
    tr = fx.transcripts
    turns = tr.groupby("conv_id").size().to_dict()
    conv_ids = sorted(turns)
    families = Counter(c[:10] for c in conv_ids)
    pools = {
        "repost": [c for c in conv_ids if not c.endswith("a")],
        "fresh": [c for c in conv_ids if families[c[:10]] == 1],
    }
    for p in pools.values():
        rng.shuffle(p)
    part = {c: -1 for c in conv_ids}
    for k in range(ticks):
        for kind, share in (("repost", 2 / 3), ("fresh", 1 / 3)):
            # every conversation that still fits: a few turns short at most
            quota = round(share * tick_turns)
            for c in list(pools[kind]):
                if turns[c] <= quota:
                    pools[kind].remove(c)
                    part[c] = k
                    quota -= turns[c]
    parts = pd.DataFrame(sorted(part.items()), columns=["conv_id", "part"])
    dup_families = sorted({c[:10] for c in conv_ids if not c.endswith("a")})
    picked = rng.sample(dup_families, min(len(dup_families), n_purges * tombs_per_purge))
    tomb = pd.DataFrame(
        [(f"{fam}a", i // tombs_per_purge) for i, fam in enumerate(picked)], columns=["conv_id", "purge"]
    )
    return parts, tomb


def build(workload: str, seed: int) -> Inputs:
    spec = SIZES[workload]
    fx = generate(n_conv=spec["n_conv"], seed=seed)
    if workload == "batch_reposts":
        transcripts, pairs = _add_heavy_families(fx, seed, spec["families"], spec["max_family"])
    else:
        transcripts, pairs = fx.transcripts, fx.labeled_pairs
    if workload == "incremental_churn":
        ticks = spec["warm_up_ticks"] + spec["cycles"] * spec["ticks_per_cycle"]
        parts, tomb = _churn_split(fx, seed, spec["tick_turns"], ticks, spec["cycles"], spec["tombs_per_purge"])
    else:
        parts = pd.DataFrame({"conv_id": sorted(set(transcripts["conv_id"])), "part": -1})
        tomb = pd.DataFrame({"conv_id": pd.Series(dtype=str), "purge": pd.Series(dtype=int)})
    labels = _labels(pairs)
    sizes = {
        "conversations": int(transcripts["conv_id"].nunique()),
        "turns": len(transcripts),
        "labeled_pairs": len(labels),
        "labeled_dup_pairs": int(labels["is_dup"].sum()),
        "family_sizes": _family_sizes(transcripts),
        **({"seed_conversations": int((parts["part"] == -1).sum()), "micro_batches": int(parts["part"].max()) + 1, "tombstones": len(tomb)} if workload == "incremental_churn" else {}),
    }
    return Inputs(transcripts, labels, parts, tomb, sizes)


def load_or_build(workload: str, seed: int, cache_root: str) -> Inputs:
    """Inputs for (workload, seed), built once and cached as parquet."""
    d = cache_dir(workload, seed, cache_root)
    names = ("transcripts", "labels", "parts", "tombstones")
    if not os.path.isfile(os.path.join(d, "sizes.json")):
        inp = build(workload, seed)
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for n in names:
            # microsecond timestamps: Spark cannot read parquet nanoseconds
            getattr(inp, n).to_parquet(os.path.join(tmp, f"{n}.parquet"), index=False, coerce_timestamps="us")
        with open(os.path.join(tmp, "sizes.json"), "w") as f:
            json.dump(inp.sizes, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        return inp
    frames = {n: pd.read_parquet(os.path.join(d, f"{n}.parquet")) for n in names}
    with open(os.path.join(d, "sizes.json")) as f:
        return Inputs(**frames, sizes=json.load(f))


def cache_dir(workload: str, seed: int, cache_root: str) -> str:
    """One directory per (workload, seed, generator version): the digest
    covers the sizes and this file's source."""
    with open(__file__, "rb") as f:
        source = f.read()
    spec = hashlib.sha256(json.dumps(SIZES[workload], sort_keys=True).encode() + source).hexdigest()[:8]
    return os.path.join(cache_root, f"{workload}-{seed}-{spec}")
