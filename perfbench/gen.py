"""Seeded input generator owned by the benchmark.

The engine only ever sees the Parquet files written here. Everything is a
function of the seed, so the same seed gives byte-identical inputs.

- :func:`repo_table` draws a repo-files table ``(repo, path, commit, lang,
  content)``: each commit touches a handful of files of one repo, picked
  without replacement from a Zipf popularity over that repo's files, so a
  few hot files co-occur with everything and most files are rare.
- :func:`co_commit_edges` is a numpy re-statement of the engine's
  ``derive_edges`` (distinct files per commit, commits above the fan-out
  cap dropped, one weighted pair per co-touched file pair, both
  directions). It feeds the oracles and the dense-id edge file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: mirrors propagon_spark.sources.repo_table.MAX_COMMIT_FILES; restated so
#: the oracle does not import the code it checks
MAX_COMMIT_FILES = 100

_LANGS = ("py", "rs", "go", "java", "c", "ts")
#: file popularity within a repo ~ rank^-ZIPF_A
ZIPF_A = 1.1
#: share of commits that touch more files than the derivation cap, so the
#: cap is exercised
BIG_COMMIT_SHARE = 0.01


@dataclass(frozen=True)
class RepoShape:
    repos: int
    files_per_repo: int
    commits_per_repo: int
    mean_commit_files: int


@dataclass
class RepoTable:
    repo: np.ndarray  # int repo index per row
    file: np.ndarray  # int file index within the repo per row
    commit: np.ndarray  # int commit index within the repo per row
    shape: RepoShape

    def vertex_names(self, repo: np.ndarray, file: np.ndarray) -> np.ndarray:
        return np.char.add(
            np.char.add(np.char.add("repo", repo.astype(str)), ":"),
            _paths(file),
        )


def _paths(file: np.ndarray) -> np.ndarray:
    ext = np.asarray(_LANGS)[file % len(_LANGS)]
    return np.char.add(np.char.add(np.char.add("src/f", file.astype(str)), "."), ext)


def repo_table(seed: int, stream: int, shape: RepoShape) -> RepoTable:
    """Draw the repo table for ``seed``; ``stream`` keeps the tables of
    different workloads independent. Rows are (repo, file, commit)."""
    rng = np.random.default_rng([seed, stream])
    nf, nc = shape.files_per_repo, shape.commits_per_repo
    base_logw = -ZIPF_A * np.log(np.arange(1, nf + 1))
    repos, files, commits = [], [], []
    for r in range(shape.repos):
        # each repo ranks its files in its own random popularity order
        logw = base_logw[rng.permutation(nf)]
        sizes = 2 + rng.poisson(shape.mean_commit_files - 2, nc)
        big = rng.random(nc) < BIG_COMMIT_SHARE
        sizes[big] = MAX_COMMIT_FILES + 1 + rng.integers(0, 20, big.sum())
        sizes = np.minimum(sizes, nf)
        # weighted sampling without replacement: top-k of log w + Gumbel
        keys = logw[None, :] + rng.gumbel(size=(nc, nf))
        order = np.argsort(-keys, axis=1)
        for c in range(nc):
            picked = order[c, : sizes[c]]
            files.append(picked)
            commits.append(np.full(len(picked), c))
        repos.append(np.full(int(sizes.sum()), r))
    return RepoTable(
        repo=np.concatenate(repos),
        file=np.concatenate(files),
        commit=np.concatenate(commits),
        shape=shape,
    )


def write_repo_parquet(t: RepoTable, seed: int, path: str) -> None:
    """Write the table in the engine's input contract (all strings)."""
    commit_ids = np.char.add(
        np.char.add(f"c{seed:x}-", t.repo.astype(str)),
        np.char.add("-", t.commit.astype(str)),
    )
    paths = _paths(t.file)
    tbl = pa.table(
        {
            "repo": np.char.add("repo", t.repo.astype(str)).tolist(),
            "path": paths.tolist(),
            "commit": commit_ids.tolist(),
            "lang": np.asarray(_LANGS)[t.file % len(_LANGS)].tolist(),
            "content": np.char.add("// synthetic ", paths).tolist(),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"))


@dataclass
class EdgeSet:
    """Symmetric co-commit edges over dense vertex ids ``0..n-1`` (ids in
    name order, like the engine's vocab)."""

    names: np.ndarray
    src: np.ndarray
    dst: np.ndarray
    weight: np.ndarray

    @property
    def n(self) -> int:
        return len(self.names)

    def stats(self) -> dict:
        deg = np.bincount(self.src, minlength=self.n)
        return {
            "vertices": self.n,
            "edge_rows": len(self.src),
            "dedup_edges": len(np.unique(self.src * self.n + self.dst)),
            "max_degree": int(deg.max()) if self.n else 0,
        }


def co_commit_edges(t: RepoTable) -> EdgeSet:
    """numpy co-commit derivation with the engine's semantics."""
    nf = t.shape.files_per_repo
    gfile = t.repo.astype(np.int64) * nf + t.file
    group = t.repo.astype(np.int64) * t.shape.commits_per_repo + t.commit
    # distinct (commit group, file), then drop groups above the cap
    key = np.unique(group * (nf * t.shape.repos) + gfile)
    grp, gf = key // (nf * t.shape.repos), key % (nf * t.shape.repos)
    bounds = np.flatnonzero(np.diff(grp)) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [len(grp)]])
    us, vs = [], []
    for s, e in zip(starts, ends):
        k = e - s
        if k < 2 or k > MAX_COMMIT_FILES:
            continue
        members = gf[s:e]
        i, j = np.triu_indices(k, 1)
        us.append(members[i])
        vs.append(members[j])
    u = np.concatenate(us)
    v = np.concatenate(vs)
    pair, weight = np.unique(
        np.concatenate([u * (nf * t.shape.repos) + v, v * (nf * t.shape.repos) + u]),
        return_counts=True,
    )
    src_g, dst_g = pair // (nf * t.shape.repos), pair % (nf * t.shape.repos)
    used = np.unique(np.concatenate([src_g, dst_g]))
    names = t.vertex_names(used // nf, used % nf)
    order = np.argsort(names)
    rank = np.empty(len(used), dtype=np.int64)
    rank[order] = np.arange(len(used))
    return EdgeSet(
        names=names[order],
        src=rank[np.searchsorted(used, src_g)],
        dst=rank[np.searchsorted(used, dst_g)],
        weight=weight.astype(np.float64),
    )


def write_dense_edges(es: EdgeSet, path: str) -> None:
    """Dense-id edge file ``(src: long, dst: long, weight: double)``."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"src": es.src, "dst": es.dst, "weight": es.weight}),
        os.path.join(path, "part-0.parquet"),
    )
