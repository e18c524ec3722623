"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed gives
byte-identical files. Files are written under ``cache_dir/<workload>-s<seed>-
<size key>/`` and reused when that directory already holds a finished
generation (a ``done`` marker written last), so generation never lands in a
timed region and repeated runs on one seed skip it.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

# reference example level histogram (FIXTURES.md F2, 1,188 rows at sf=1)
_REF_LEVELS = (4, 14, 27, 45, 88, 243, 767)
_RANKS = ("k", "p", "c", "o", "f", "g", "s")
# pit_tables: token vocabulary, taxonomy versions, and the shares of
# near-duplicate and exact-duplicate documents
_VOCAB = 2000
_N_SNAPSHOTS = 4
_DUP_SHARE = 0.1
_EXACT_SHARE = 0.05


def _cached(cache_dir: str, key: str, build) -> str:
    out = os.path.join(cache_dir, key)
    if os.path.exists(os.path.join(out, "done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "done"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _tree(rng: np.random.Generator, n_features: int) -> tuple[list[str], np.ndarray]:
    """Depth-7 taxonomy with the reference's level proportions. Returns
    (paths, parent index per node; -1 for roots), parents listed first."""
    scale = n_features / sum(_REF_LEVELS)
    counts = [max(2, round(c * scale)) for c in _REF_LEVELS]
    paths: list[str] = []
    parent: list[int] = []
    prev: list[int] = []
    for depth, n in enumerate(counts):
        cur = []
        for j in range(n):
            if depth == 0:
                p = -1
                # every parent gets one child first, then the rest at random
            elif j < len(prev):
                p = prev[j]
            else:
                p = prev[int(rng.integers(len(prev)))]
            # sibling subtrees reuse names under different parents (the
            # reference's duplicate-name fringe case): names cycle mod 97
            name = f"{_RANKS[depth]}__t{(j * 7919) % 97 if depth >= 5 else j}"
            path = name if p < 0 else f"{paths[p]}|{name}"
            cur.append(len(paths))
            paths.append(path)
            parent.append(p)
        prev = cur
    # duplicate names under one parent would merge two nodes: suffix them
    seen: dict[str, int] = {}
    for i, pth in enumerate(paths):
        if pth in seen:
            seen[pth] += 1
            head, _, tail = pth.rpartition("|")
            paths[i] = f"{head}|{tail}x{seen[pth]}" if head else f"{tail}x{seen[pth]}"
        else:
            seen[pth] = 0
    return paths, np.asarray(parent)


def hfe_matrix(cache_dir: str, seed: int, n_features: int, n_samples: int) -> dict:
    """F1/F2-shaped taxaHFE input: ``metadata.tsv`` (subject_id,
    feature_of_interest 65/35, one three-level covariate) and ``data.tsv`` (clade_name +
    one column per sample). Leaves are ~85% zeros; 20% of the non-leaf rows
    are dropped so the observed-wins rollup has missing ancestors to fill;
    one kept parent differs from the sum of its children."""

    def build(out: str) -> None:
        # the taxonomy, the signal-carrying leaves and the dropped rows are
        # fixed per size (like a study's reference taxonomy); the seed draws
        # the samples: labels, presence and abundances. A seed then changes
        # the data but not the amount of work the pipeline does on it.
        fixed = np.random.default_rng([n_features, n_samples])
        rng = np.random.default_rng([seed, n_features, n_samples])
        paths, parent = _tree(fixed, n_features)
        n = len(paths)
        has_child = np.zeros(n, dtype=bool)
        has_child[parent[parent >= 0]] = True
        leaves = np.flatnonzero(~has_child)
        signal = fixed.random(len(leaves)) < 0.15
        inner = np.flatnonzero(has_child)
        inner = inner[np.argsort([paths[i].count("|") for i in inner], kind="stable")]
        keep = np.ones(n, dtype=bool)
        # never drop a kingdom: the reference example keeps them
        droppable = inner[[paths[i].count("|") > 0 for i in inner]]
        keep[fixed.choice(droppable, size=int(0.2 * len(inner)), replace=False)] = False
        odd = next(i for i in inner[::-1] if keep[i])

        label = (rng.random(n_samples) < 0.35).astype(np.int64)
        # leaves: sparse lognormal abundances; 15% of leaves carry signal
        vals = np.zeros((n, n_samples))
        present = rng.random((len(leaves), n_samples)) < 0.07
        mag = rng.lognormal(0.0, 1.0, (len(leaves), n_samples))
        mag[signal] *= np.where(label == 1, 3.0, 1.0)[None, :]
        vals[leaves] = np.where(present, mag, 0.0)
        for i in range(n - 1, -1, -1):  # children come after their parents
            if parent[i] >= 0:
                vals[parent[i]] += vals[i]
        vals = np.round(vals, 6)
        vals[odd] *= 1.1  # populated parent != sum(children)
        samples = [f"S{j:05d}" for j in range(n_samples)]
        rows = np.flatnonzero(keep)
        data = pd.DataFrame(vals[rows], columns=samples)
        data.insert(0, "clade_name", [paths[i] for i in rows])
        data.to_csv(os.path.join(out, "data.tsv"), sep="\t", index=False)
        meta = pd.DataFrame(
            {
                "subject_id": samples,
                "feature_of_interest": np.where(label == 1, "case", "control"),
                "cov_1": np.array(["low", "mid", "high"])[rng.integers(0, 3, n_samples)],
            }
        )
        meta.to_csv(os.path.join(out, "metadata.tsv"), sep="\t", index=False)

    d = _cached(cache_dir, f"hfe-s{seed}-f{n_features}-n{n_samples}", build)
    return {
        "metadata": os.path.join(d, "metadata.tsv"),
        "data": os.path.join(d, "data.tsv"),
    }


def pit_tables(cache_dir: str, seed: int, n_docs: int) -> dict:
    """Pre-tokenized sequence table (F5 + event-time extension) and its
    versioned taxonomy (F6), as parquet.

    ``docs.parquet``: doc_id string, tokens array<int>, n_tok int, source
    (4 values), ts timestamp (out of order, with gaps longer than the
    session gap), text (the tokens spelled as words). ``_DUP_SHARE`` of the
    documents are near-duplicates (one token in ~20 changed) of an earlier
    document and ``_EXACT_SHARE`` are exact token copies.
    ``snapshots.parquet``: snapshot_ts, token_id, clade_path (depth 3) for
    ``_N_SNAPSHOTS`` versions; 10% of the tokens move to another clade at
    each version, so a leaked join changes the features.
    ``quality.parquet``: per-source quality scores over time — the right
    side of the as-of join."""

    def build(out: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng([seed, n_docs, _VOCAB])
        lens = rng.integers(40, 120, n_docs)
        # skewed token ids (p ~ 1/(rank + 10)): hot tokens and a long tail,
        # but mild enough that unrelated documents rarely look alike, so the
        # LSH candidate set is the planted duplicates, not a seed accident
        weights = 1.0 / (np.arange(_VOCAB) + 10.0)
        flat = rng.choice(_VOCAB, size=int(lens.sum()), p=weights / weights.sum())
        toks = [t.astype(np.int32) for t in np.split(flat, np.cumsum(lens)[:-1])]
        src = rng.integers(0, 4, n_docs)
        n_dup = int(_DUP_SHARE * n_docs)
        n_exact = int(_EXACT_SHARE * n_docs)
        targets = rng.choice(np.arange(n_docs // 2, n_docs), n_dup + n_exact, replace=False)
        for t_i, tgt in enumerate(targets):
            srcdoc = int(rng.integers(0, n_docs // 2))
            t = toks[srcdoc].copy()
            if t_i < n_dup:
                flip = rng.random(len(t)) < 0.05
                t[flip] = rng.integers(0, _VOCAB, int(flip.sum()))
            toks[tgt] = t
            src[tgt] = src[srcdoc]
        base = np.datetime64("2024-01-01T00:00:00", "s")
        # bursts of activity separated by long gaps, emitted out of order
        ts = base + (
            np.sort(rng.integers(0, 30 * 86400, n_docs))
            + (rng.random(n_docs) < 0.02) * 7200
        ).astype("timedelta64[s]")
        ts = ts[rng.permutation(n_docs)]
        words = np.array([f"w{i}" for i in range(_VOCAB)])
        tbl = pa.table(
            {
                "doc_id": pa.array([f"d{i:07d}" for i in range(n_docs)]),
                "tokens": pa.array(toks, type=pa.list_(pa.int32())),
                "n_tok": pa.array([len(t) for t in toks], type=pa.int32()),
                "source": pa.array([f"src{int(s)}" for s in src]),
                "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us", tz="UTC")),
                "text": pa.array([" ".join(words[t]) for t in toks]),
            }
        )
        pq.write_table(tbl, os.path.join(out, "docs.parquet"), row_group_size=8192)
        # snapshots start one day after the first event, so the earliest
        # events resolve to no version and are dropped (as-of inner rule)
        snap_ts = base + (np.arange(_N_SNAPSHOTS) * 7 + 1) * np.timedelta64(86400, "s")
        # the versioned taxonomy is fixed; the seed draws the documents
        fixed = np.random.default_rng([_VOCAB, _N_SNAPSHOTS])
        clade = fixed.integers(0, 64, _VOCAB)
        snaps = []
        for v in range(_N_SNAPSHOTS):
            if v:
                moved = fixed.random(_VOCAB) < 0.1
                clade = np.where(moved, fixed.integers(0, 64, _VOCAB), clade)
            snaps.append(
                pd.DataFrame(
                    {
                        "snapshot_ts": pd.to_datetime(np.full(_VOCAB, snap_ts[v]), utc=True).astype("datetime64[us, UTC]"),
                        "token_id": np.arange(_VOCAB, dtype=np.int32),
                        "clade_path": [f"k{c % 4}|p{c % 16}|c{c}" for c in clade],
                    }
                )
            )
        pq.write_table(
            pa.Table.from_pandas(pd.concat(snaps, ignore_index=True), preserve_index=False),
            os.path.join(out, "snapshots.parquet"),
        )
        q_ts = base + np.sort(rng.integers(0, 30 * 86400, 200)).astype("timedelta64[s]")
        quality = pd.DataFrame(
            {
                "source": [f"src{i % 4}" for i in range(200)],
                "q_ts": pd.to_datetime(q_ts, utc=True).astype("datetime64[us, UTC]"),
                "quality": np.round(rng.random(200), 4),
            }
        ).drop_duplicates(["source", "q_ts"])
        pq.write_table(
            pa.Table.from_pandas(quality, preserve_index=False),
            os.path.join(out, "quality.parquet"),
        )

    d = _cached(cache_dir, f"pit-s{seed}-d{n_docs}", build)
    return {
        name: os.path.join(d, f"{name}.parquet")
        for name in ("docs", "snapshots", "quality")
    }


if __name__ == "__main__":
    # python3 inputs.py <generator> <cache_dir> <seed> <json kwargs>: runs
    # generation in its own process, so the benchmark's driver process
    # (whose peak RSS is a metric) never holds the generated arrays
    import json
    import sys

    fn, cache, seed, kwargs = sys.argv[1:5]
    print(json.dumps(globals()[fn](cache, int(seed), **json.loads(kwargs))))
