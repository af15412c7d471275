"""Reference answers the benchmark checks the program against, computed
in set-up: the single-process pipeline oracle (``oracle.run_oracle``, run
over page chunks in child interpreters) and pandas/NumPy oracles for the
graph queries."""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import numpy as np
import pandas as pd

TRIPLE_COLS = ["subj", "pred", "obj", "url", "sent_idx", "conf"]


def oracle_triples(pages: pd.DataFrame, alias: pd.DataFrame) -> pd.DataFrame:
    """Gold triples of one page chunk."""
    from char_ner_spark.oracle import run_oracle

    return run_oracle(pages, alias)["triples"]


class OraclePool:
    """``oracle_triples`` over (pages, alias) tasks in ``procs`` child
    interpreters (``python -m perfbench.gold``), started before the work
    that can overlap them; tasks and results pass through pickle files
    under ``tmp``. Always waited for or killed."""

    def __init__(self, tasks: list[tuple[pd.DataFrame, pd.DataFrame]],
                 procs: int, tmp: str) -> None:
        self._n = len(tasks)
        self._procs: list[tuple[subprocess.Popen, str, list[int]]] = []
        for w in range(min(procs, self._n)):
            idx = list(range(w, self._n, procs))
            src, dst = (os.path.join(tmp, f"oracle-{w}.{x}.pkl")
                        for x in ("in", "out"))
            with open(src, "wb") as f:
                pickle.dump([tasks[i] for i in idx], f)
            proc = subprocess.Popen(
                [sys.executable, "-m", "perfbench.gold", src, dst])
            self._procs.append((proc, dst, idx))

    def result(self, timeout_s: float = 170.0) -> list[pd.DataFrame]:
        out: list = [None] * self._n
        try:
            for proc, dst, idx in self._procs:
                if proc.wait(timeout=timeout_s) != 0:
                    raise RuntimeError(
                        f"oracle worker exited with {proc.returncode}")
                with open(dst, "rb") as f:  # written by our own worker
                    for i, triples in zip(idx, pickle.load(f)):
                        out[i] = triples
        finally:
            self.close()
        return out

    def close(self) -> None:
        for proc, _, _ in self._procs:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        self._procs = []


def chunks(pages: pd.DataFrame, n: int) -> list[pd.DataFrame]:
    step = -(-len(pages) // n)
    return [pages.iloc[i:i + step] for i in range(0, len(pages), step)]


def triple_set(pdf: pd.DataFrame) -> set[tuple]:
    return set(map(tuple, pdf[TRIPLE_COLS].round({"conf": 6})
                   .itertuples(index=False)))


def precision_recall(got: set, want: set) -> tuple[float, float]:
    hit = len(got & want)
    return (hit / len(got) if got else 1.0, hit / len(want) if want else 1.0)


# ---------------------------------------------------------------------------
# graph query oracles over the stored triples / edges
# ---------------------------------------------------------------------------


def bgp_chain(triples: pd.DataFrame, p1: str, p2: str) -> set[tuple]:
    """Solutions of ``?a p1 ?b . ?b p2 ?c`` as (a, b, c)."""
    t = triples[["subj", "pred", "obj"]].drop_duplicates()
    left = t[t.pred == p1][["subj", "obj"]].rename(columns={"subj": "a", "obj": "b"})
    right = t[t.pred == p2][["subj", "obj"]].rename(columns={"subj": "b", "obj": "c"})
    j = left.merge(right, on="b")
    return set(map(tuple, j[["a", "b", "c"]].itertuples(index=False)))


def pagerank(edges: pd.DataFrame, alpha: float = 0.85,
             iters: int = 5000) -> dict[int, float]:
    """Power iteration on the weighted, collapsed (src, dst) graph with
    uniform dangling redistribution, iterated to float64 round-off."""
    g = edges.groupby(["src", "dst"])["weight"].sum().reset_index()
    nodes = np.array(sorted(set(g.src) | set(g.dst)), dtype=np.int64)
    n = len(nodes)
    src = np.searchsorted(nodes, g.src.to_numpy())
    dst = np.searchsorted(nodes, g.dst.to_numpy())
    out_w = np.bincount(src, weights=g.weight.to_numpy(), minlength=n)
    p = g.weight.to_numpy() / out_w[src]
    dang = out_w == 0
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        inflow = np.bincount(dst, weights=r[src] * p, minlength=n)
        nxt = (1 - alpha) / n + alpha * (inflow + r[dang].sum() / n)
        done = np.abs(nxt - r).sum() < 1e-14
        r = nxt
        if done:
            break
    return dict(zip(nodes.tolist(), r.tolist()))


if __name__ == "__main__":
    # oracle worker: python -m perfbench.gold TASKS.pkl RESULTS.pkl
    with open(sys.argv[1], "rb") as f:  # written by OraclePool
        _tasks = pickle.load(f)
    with open(sys.argv[2], "wb") as f:
        pickle.dump([oracle_triples(p, a) for p, a in _tasks], f)
