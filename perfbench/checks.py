"""Output checks. Pure functions over collected results, so the self-test
can hand them corrupted results. Each returns a list of failure messages;
an empty list means the output is correct."""

from __future__ import annotations

from collections import defaultdict
from itertools import combinations

RECALL_FLOOR = 0.99


def same_across(values: list, what: str) -> list[str]:
    """Every operation of a run must produce the same output."""
    bad = [i for i, v in enumerate(values) if v != values[0]]
    return [f"{what} differs between operations 0 and {i}" for i in bad]


def matches_recorded(ok: bool, what: str) -> list[str]:
    return [] if ok else [f"{what} differs from the first run of this seed"]


# -- cdc_analyze -----------------------------------------------------------

def cutpoints(sample: dict[str, tuple[bytes, list[int]]], resolved) -> list[str]:
    """Chunk lengths the engine produced for each sampled clip must equal the
    per-byte reference `cdc.naive.split_naive` over the clip's bytes."""
    from go_cdc_chunkers_spark.cdc.naive import split_naive

    out = []
    for clip_id, (data, lengths) in sorted(sample.items()):
        want = split_naive(resolved, data)
        if lengths != want:
            first = next((i for i, (a, b) in enumerate(zip(lengths, want))
                          if a != b), min(len(lengths), len(want)))
            out.append(f"cutpoints of {clip_id} differ from split_naive at "
                       f"chunk {first} ({len(lengths)} vs {len(want)} chunks)")
    return out


# -- neardup_batch / incremental_fold -------------------------------------

def pairs_of_groups(assign: dict[str, object]) -> set[tuple[str, str]]:
    """All unordered pairs (a < b) of items sharing a group label."""
    groups = defaultdict(list)
    for item, g in assign.items():
        groups[g].append(item)
    return {(a, b) for members in groups.values()
            for a, b in combinations(sorted(members), 2)}


def recall_precision(labels: dict[str, str], truth: dict[str, int]) -> tuple[float, float, int, int]:
    """(recall, precision, predicted pairs, truth pairs) of the predicted
    component pairs against the generator's duplicate groups."""
    pred = pairs_of_groups(labels)
    true = pairs_of_groups(truth)
    hit = len(pred & true)
    recall = hit / len(true) if true else 1.0
    precision = hit / len(pred) if pred else 1.0
    return recall, precision, len(pred), len(true)


def recall_floor(recall: float) -> list[str]:
    if recall >= RECALL_FLOOR:
        return []
    return [f"dup_recall {recall:.4f} below {RECALL_FLOOR}"]


def covers_clips(labels: dict[str, str], clip_ids: set[str]) -> list[str]:
    missing = clip_ids - set(labels)
    extra = set(labels) - clip_ids
    out = []
    if missing:
        out.append(f"{len(missing)} input clips have no component label")
    if extra:
        out.append(f"{len(extra)} labels name clips not in the input")
    return out


def incremental_matches_full(incr: dict[str, str], full: dict[str, str],
                             capped_touched: int) -> list[str]:
    """cluster_store_incremental's contract: labels equal a fresh full
    cluster_store whenever no touched bucket was star-capped."""
    if capped_touched:
        return []
    diff = sorted(k for k in set(incr) | set(full) if incr.get(k) != full.get(k))
    if not diff:
        return []
    return [f"{len(diff)} incremental labels differ from a full cluster_store "
            f"(first {diff[0]}: {incr.get(diff[0])} vs {full.get(diff[0])})"]
