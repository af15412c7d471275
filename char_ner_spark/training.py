"""Supervised training for the char-level BiLSTM tagger (SURVEY §2 A3/O2/M3).

Re-expresses the reference's training loop semantics (ref:src/lazrnn.py
RDNN ``train`` — per-timestep softmax cross-entropy over the stacked
bi-LSTM outputs; ref:src/exper.py main loop — mini-batch SGD with a fresh
sentence shuffle every epoch and the epoch's mean cost logged;
reconstructed, SURVEY §0/§2.9). Viterbi decoding stays a separate
inference-time stage exactly as in the reference (ref:src/decoder.py
operates on the trained model's emissions; the transition prior is fixed,
not learned).

Spark-first shape — each piece maps to a §2 inventory row:

- **O2 epoch shuffle**: deterministic, state-free — mini-batch membership
  is ``pmod(xxhash64(sent_id, epoch, seed), n_batches)``, computed
  JVM-side. No driver RNG to checkpoint: any (epoch, batch) is
  reconstructible, so a resumed job replays the identical schedule.
- **M3 train step**: synchronous mini-batch SGD. One Spark job per batch
  computes the EXACT batch gradient: executors emit per-sentence
  gradients quantized to int64 fixed-point (``GRAD_SCALE``), and int64
  sums are associative — the batch gradient (hence the whole training
  trajectory) is bitwise identical under ANY partitioning of the input,
  the same cross-parallelism determinism contract the inference engine
  pins (tagger.py design notes). Scale note: the model is ~19k params
  (~150 KB), so per-partition partials are one short array<long> row and
  the driver-side reduce is O(partitions); at 10^12 docs the same shape
  holds — gradient width is model-, not data-, sized, and `treeAggregate`
  semantics arrive for free because int64 addition commutes exactly.
- **A3 epoch cost mean**: the per-sentence loss rides the same int64
  aggregation (exact sum of quantized per-sentence losses), so the
  per-epoch mean cost ledger (:func:`costs_table`) is also
  partition-independent.

The float64 per-sentence forward/backward lives here, deliberately
separate from the fp32 inference hot path (tagger.py): training is a
correctness/completeness surface — BASELINE.json's north rule scopes the
100-TB hot path to inference — so this module optimizes for verifiable
gradients (float64, per-sentence, numerically gradcheck-able in
tests/test_training.py) over batch throughput. Trained weights flow back
into the inference engine through the existing S3 surface
(:func:`tagger.save_weights` npz layout / ``tag_sentences(weights=...)``).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import spans as S
from .tagger import CLASSES, EMB_DIM, HIDDEN, LAYERS, NC, VOCAB, model_weights

#: fixed-point scale for gradient/loss quantization. Per-sentence gradient
#: components are O(1); at 2**28 a one-ULP-of-float64 wobble in a component
#: of magnitude <= 8 stays far below half a quantum, so equal sentences
#: always quantize equally, and int64 headroom allows ~2**35 sentences per
#: batch before overflow could matter.
GRAD_SCALE = float(2**28)

#: trainable parameter names in a fixed, layout-defining order ("trans" is
#: the reference's fixed decode prior — not trained, matching
#: ref:src/decoder.py where D8 is hand-set, not a learned CRF).
PARAM_KEYS: tuple[str, ...] = tuple(
    ["emb"]
    + [
        f"{kind}{layer}{d}"
        for layer in range(LAYERS)
        for d in ("fw", "bw")
        for kind in ("Wx", "Wh", "b")
    ]
    + ["Wout", "bout"]
)


def init_weights(lang: str = "en", seed_delta: int = 0) -> dict[str, np.ndarray]:
    """Float64 master copy of the seeded per-language init (the training
    loop keeps float64 masters; :func:`finalize_weights` casts back to the
    inference engine's fp32 layout)."""
    w32 = model_weights(lang)
    w = {k: v.astype(np.float64) for k, v in w32.items()}
    if seed_delta:
        rng = np.random.RandomState(seed_delta)
        for k in PARAM_KEYS:
            w[k] = w[k] + rng.normal(0, 1e-3, w[k].shape)
    return w


def finalize_weights(w: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """Training masters → the fp32 dict :func:`tagger.tag_sentences` and
    :func:`tagger.save_weights` consume (includes the fixed ``trans``)."""
    return {k: v.astype(np.float32) for k, v in w.items()}


def flatten_grads(g: dict[str, np.ndarray]) -> np.ndarray:
    return np.concatenate([g[k].ravel() for k in PARAM_KEYS])


def unflatten(vec: np.ndarray, w: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    out: dict[str, np.ndarray] = {}
    pos = 0
    for k in PARAM_KEYS:
        n = w[k].size
        out[k] = vec[pos : pos + n].reshape(w[k].shape)
        pos += n
    return out


# ---------------------------------------------------------------------------
# float64 per-sentence forward/backward (BPTT)
# ---------------------------------------------------------------------------


def _lstm_dir_fwd(x: np.ndarray, Wx: np.ndarray, Wh: np.ndarray, b: np.ndarray,
                  reverse: bool) -> tuple[np.ndarray, dict]:
    """One unmasked LSTM direction over a single sentence. x: [T, Din] →
    out [T, H] plus the cache BPTT needs. Gate math mirrors
    :func:`tagger._lstm_dir` exactly (i|f|o sigmoid, u tanh, no peepholes);
    per-sentence training never pads, so the masked carry-through branch
    has no training counterpart."""
    T = x.shape[0]
    H = Wh.shape[0]
    pre = x @ Wx + b  # [T, 4H]
    steps = range(T - 1, -1, -1) if reverse else range(T)
    h = np.zeros(H)
    c = np.zeros(H)
    out = np.empty((T, H))
    gates = np.empty((T, 4 * H))  # post-activation i|f|o|u per step
    cells = np.empty((T, H))      # c_t per step
    hprev = np.empty((T, H))      # h_{t-1} per step (input to the step)
    cprev = np.empty((T, H))      # c_{t-1} per step
    for t in steps:
        hprev[t] = h
        cprev[t] = c
        g = pre[t] + h @ Wh
        iog = 1.0 / (1.0 + np.exp(-g[: 3 * H]))
        u = np.tanh(g[3 * H :])
        i, f, o = iog[:H], iog[H : 2 * H], iog[2 * H :]
        c = f * c + i * u
        h = o * np.tanh(c)
        gates[t, :H], gates[t, H : 2 * H] = i, f
        gates[t, 2 * H : 3 * H], gates[t, 3 * H :] = o, u
        cells[t] = c
        out[t] = h
    cache = {"x": x, "Wx": Wx, "Wh": Wh, "gates": gates, "cells": cells,
             "hprev": hprev, "cprev": cprev, "reverse": reverse}
    return out, cache


def _lstm_dir_bwd(dout: np.ndarray, cache: dict
                  ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """BPTT through one direction. dout: [T, H] → (dx, dWx, dWh, db)."""
    x, Wx, Wh = cache["x"], cache["Wx"], cache["Wh"]
    gates, cells = cache["gates"], cache["cells"]
    hprev, cprev = cache["hprev"], cache["cprev"]
    T = x.shape[0]
    H = Wh.shape[0]
    # backward visits steps in the reverse of the forward order
    steps = range(T) if cache["reverse"] else range(T - 1, -1, -1)
    dpre = np.zeros((T, 4 * H))
    dWh = np.zeros_like(Wh)
    dh = np.zeros(H)
    dc = np.zeros(H)
    for t in steps:
        i, f = gates[t, :H], gates[t, H : 2 * H]
        o, u = gates[t, 2 * H : 3 * H], gates[t, 3 * H :]
        tc = np.tanh(cells[t])
        dh_t = dout[t] + dh
        do = dh_t * tc
        dc_t = dc + dh_t * o * (1.0 - tc * tc)
        di = dc_t * u
        df = dc_t * cprev[t]
        du = dc_t * i
        dg = np.empty(4 * H)
        dg[:H] = di * i * (1.0 - i)
        dg[H : 2 * H] = df * f * (1.0 - f)
        dg[2 * H : 3 * H] = do * o * (1.0 - o)
        dg[3 * H :] = du * (1.0 - u * u)
        dpre[t] = dg
        dWh += np.outer(hprev[t], dg)
        dh = dg @ Wh.T
        dc = dc_t * f
    dx = dpre @ Wx.T
    dWx = x.T @ dpre
    db = dpre.sum(axis=0)
    return dx, dWx, dWh, db


def forward_sentence(ids: np.ndarray, w: dict[str, np.ndarray]
                     ) -> tuple[np.ndarray, list]:
    """Char ids [T] → logits [T, NC] (+ caches). Same dataflow as
    :func:`tagger.bilstm_logits` in float64 for one unpadded sentence."""
    x = w["emb"][ids]
    caches = []
    for layer in range(LAYERS):
        of, cf = _lstm_dir_fwd(
            x, w[f"Wx{layer}fw"], w[f"Wh{layer}fw"], w[f"b{layer}fw"], False)
        ob, cb = _lstm_dir_fwd(
            x, w[f"Wx{layer}bw"], w[f"Wh{layer}bw"], w[f"b{layer}bw"], True)
        caches.append((cf, cb))
        x = np.concatenate([of, ob], axis=1)
    logits = x @ w["Wout"] + w["bout"]
    caches.append(x)  # final layer input to Wout
    return logits, caches


def ce_loss(logits: np.ndarray, labels: np.ndarray
            ) -> tuple[float, np.ndarray]:
    """Per-char softmax cross-entropy (the reference's training objective,
    ref:src/lazrnn.py categorical_crossentropy). Returns (sum over chars,
    dlogits)."""
    m = logits.max(axis=1, keepdims=True)
    z = logits - m
    ez = np.exp(z)
    sez = ez.sum(axis=1, keepdims=True)
    logp = z - np.log(sez)
    T = logits.shape[0]
    loss = -float(logp[np.arange(T), labels].sum())
    dlogits = ez / sez
    dlogits[np.arange(T), labels] -= 1.0
    return loss, dlogits


def sentence_grad(ids: np.ndarray, labels: np.ndarray,
                  w: dict[str, np.ndarray]
                  ) -> tuple[float, dict[str, np.ndarray]]:
    """Loss + full parameter gradient for ONE sentence. Per-sentence (not
    batched) on purpose: every cross-row float reduction is confined to a
    single sentence, so a sentence's gradient bits depend only on
    (ids, labels, weights) — the property the int64 aggregation needs."""
    logits, caches = forward_sentence(ids, w)
    loss, dlogits = ce_loss(logits, labels)
    g: dict[str, np.ndarray] = {}
    xlast = caches[-1]
    g["Wout"] = xlast.T @ dlogits
    g["bout"] = dlogits.sum(axis=0)
    dx = dlogits @ w["Wout"].T
    H = HIDDEN
    for layer in range(LAYERS - 1, -1, -1):
        cf, cb = caches[layer]
        dxf, dWxf, dWhf, dbf = _lstm_dir_bwd(dx[:, :H], cf)
        dxb, dWxb, dWhb, dbb = _lstm_dir_bwd(dx[:, H:], cb)
        g[f"Wx{layer}fw"], g[f"Wh{layer}fw"], g[f"b{layer}fw"] = dWxf, dWhf, dbf
        g[f"Wx{layer}bw"], g[f"Wh{layer}bw"], g[f"b{layer}bw"] = dWxb, dWhb, dbb
        dx = dxf + dxb
    demb = np.zeros((VOCAB, EMB_DIM))
    np.add.at(demb, ids, dx)
    g["emb"] = demb
    return loss, g


# ---------------------------------------------------------------------------
# exact distributed aggregation (int64 fixed point)
# ---------------------------------------------------------------------------


def _quantize(vec: np.ndarray) -> np.ndarray:
    return np.rint(vec * GRAD_SCALE).astype(np.int64)


def _partial_grads_fn(w: dict[str, np.ndarray]):
    """mapInPandas worker: int64 sums of quantized per-sentence gradients
    + losses + char counts, accumulated across ALL of the partition's
    Arrow batches and emitted as ONE row — driver traffic is
    O(partitions × model size), not O(batches). int64 addition makes the
    cross-partition sum exact and order-free."""
    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_params = int(sum(w[k].size for k in PARAM_KEYS))
        acc = np.zeros(n_params, dtype=np.int64)
        loss_fp = 0
        n_chars = 0
        for pdf in batches:
            for text, labels in zip(pdf["text"], pdf["labels"]):
                if not text:
                    continue
                ids = _encode(text)
                lab = np.asarray(labels, dtype=np.int64)
                loss, g = sentence_grad(ids, lab, w)
                acc += _quantize(flatten_grads(g))
                loss_fp += int(round(loss * GRAD_SCALE))
                n_chars += len(text)
        if n_chars:
            yield pd.DataFrame({
                "grad_fp": [acc.tolist()],
                "loss_fp": [loss_fp],
                "n_chars": [n_chars],
            })
    return go


def _encode(text: str) -> np.ndarray:
    from .tagger import encode_chars

    return encode_chars(text)


_PARTIAL_SCHEMA = "grad_fp array<long>, loss_fp long, n_chars long"


def batch_gradient(batch_df: DataFrame, w: dict[str, np.ndarray]
                   ) -> tuple[np.ndarray, float, int]:
    """Exact gradient sum over ``batch_df(text, labels)`` — one Spark job.
    Returns (grad_sum float64 vector, loss_sum, n_chars); bitwise
    partitioning-independent (int64 fixed-point partials)."""
    rows = (
        batch_df.select("text", "labels")
        .mapInPandas(_partial_grads_fn(w), schema=_PARTIAL_SCHEMA)
        .collect()
    )
    n_params = int(sum(w[k].size for k in PARAM_KEYS))
    acc = np.zeros(n_params, dtype=np.int64)
    loss_fp = 0
    n_chars = 0
    for r in rows:
        acc += np.asarray(r["grad_fp"], dtype=np.int64)
        loss_fp += r["loss_fp"]
        n_chars += r["n_chars"]
    return acc.astype(np.float64) / GRAD_SCALE, loss_fp / GRAD_SCALE, n_chars


# ---------------------------------------------------------------------------
# epoch schedule (O2) + training loop (M3) + cost ledger (A3)
# ---------------------------------------------------------------------------


def with_batch_col(sents: DataFrame, epoch: int, n_batches: int,
                   seed: int = 42) -> DataFrame:
    """O2 epoch shuffle, Spark-first: membership = pmod(xxhash64(sent_id,
    epoch, seed), n_batches). A new epoch re-deals every sentence to a new
    mini-batch (the reference's per-epoch shuffle), deterministically and
    JVM-side — no collected permutation, no driver RNG state."""
    return sents.withColumn(
        "batch",
        F.pmod(
            F.xxhash64(F.col("sent_id"), F.lit(int(epoch)), F.lit(int(seed))),
            F.lit(int(n_batches)),
        ).cast("int"),
    )


def _checkpoint_epoch(ckpt_dir: str, epoch: int, w: dict[str, np.ndarray],
                      costs: list[tuple[int, float]],
                      vel: dict[str, np.ndarray],
                      dev_costs: list[tuple[int, float]],
                      hp: dict | None = None) -> None:
    """Atomic per-epoch checkpoint: float64 masters + momentum velocity
    (``vel::`` key prefix, so resumed momentum trajectories stay bitwise)
    + both cost ledgers. Write-then-rename so a killed job never leaves a
    torn epoch file."""
    import json as _json
    import os

    os.makedirs(ckpt_dir, exist_ok=True)
    # np.savez appends ".npz" when the name lacks it — keep the suffix on
    # the tmp name so the rename source actually exists
    tmp = os.path.join(ckpt_dir, f".epoch_{epoch}.tmp.npz")
    np.savez(tmp, **w, **{f"vel::{k}": v for k, v in vel.items()})
    os.replace(tmp, os.path.join(ckpt_dir, f"epoch_{epoch}.npz"))
    tmpj = os.path.join(ckpt_dir, ".costs.json.tmp")
    with open(tmpj, "w") as f:
        _json.dump({"costs": costs, "dev_costs": dev_costs, "hp": hp}, f)
    os.replace(tmpj, os.path.join(ckpt_dir, "costs.json"))


def _load_epoch_file(ckpt_dir: str, epoch: int) -> tuple[dict, dict]:
    import os

    with np.load(os.path.join(ckpt_dir, f"epoch_{epoch}.npz")) as z:
        w = {k: z[k] for k in z.files if not k.startswith("vel::")}
        vel = {k[len("vel::"):]: z[k] for k in z.files if k.startswith("vel::")}
    return w, vel


def _load_checkpoint(ckpt_dir: str) -> tuple[int, dict, list, dict, list] | None:
    """Latest complete epoch in ``ckpt_dir`` → (epoch, float64 weights,
    costs, velocity, dev_costs), or None."""
    import json as _json
    import os
    import re as _re

    if not os.path.isdir(ckpt_dir):
        return None
    done = sorted(
        int(m.group(1))
        for fn in os.listdir(ckpt_dir)
        if (m := _re.fullmatch(r"epoch_(\d+)\.npz", fn))
    )
    if not done:
        return None
    last = done[-1]
    w, vel = _load_epoch_file(ckpt_dir, last)
    with open(os.path.join(ckpt_dir, "costs.json")) as f:
        led = _json.load(f)
    costs = [tuple(ec) for ec in led["costs"] if ec[0] <= last]
    dev_costs = [tuple(ec) for ec in led.get("dev_costs", []) if ec[0] <= last]
    return last, w, costs, vel, dev_costs, led.get("hp")


def _partial_loss_fn(w: dict[str, np.ndarray]):
    """Forward-only twin of :func:`_partial_grads_fn` for dev-set scoring:
    exact int64 loss sums, no gradient work."""
    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        loss_fp = 0
        n_chars = 0
        for pdf in batches:
            for text, labels in zip(pdf["text"], pdf["labels"]):
                if not text:
                    continue
                logits, _ = forward_sentence(_encode(text), w)
                loss, _ = ce_loss(logits, np.asarray(labels, dtype=np.int64))
                loss_fp += int(round(loss * GRAD_SCALE))
                n_chars += len(text)
        if n_chars:
            yield pd.DataFrame({"loss_fp": [loss_fp], "n_chars": [n_chars]})
    return go


def dataset_cost(df: DataFrame, w: dict[str, np.ndarray]) -> float:
    """Exact mean per-char CE over ``df(text, labels)`` — one forward-only
    Spark job; partition-independent like the gradient (int64 sums)."""
    rows = (
        df.select("text", "labels")
        .mapInPandas(_partial_loss_fn(w), schema="loss_fp long, n_chars long")
        .collect()
    )
    loss_fp = sum(r["loss_fp"] for r in rows)
    n = sum(r["n_chars"] for r in rows)
    return (loss_fp / GRAD_SCALE) / max(n, 1)


def train(
    spark: SparkSession,
    sents: DataFrame,
    lang: str = "en",
    epochs: int = 3,
    lr: float = 0.5,
    n_batches: int = 4,
    seed: int = 42,
    init: dict[str, np.ndarray] | None = None,
    checkpoint_dir: str | None = None,
    momentum: float = 0.0,
    clip_norm: float = 0.0,
    dev: DataFrame | None = None,
    patience: int | None = None,
) -> dict:
    """Mini-batch SGD over ``sents(sent_id, text, labels array<int>)``.

    Per epoch: deal sentences into ``n_batches`` via the epoch-seeded hash
    (O2); for each batch run one exact-gradient Spark job and take an SGD
    step on the driver (M3, gradient normalized per char); record the
    epoch's mean per-char cost (A3). Returns ``{"weights": fp32 dict,
    "costs": [(epoch, mean_cost)], "best_epoch": int}`` (plus
    ``dev_costs`` when ``dev`` is given) — best-epoch select (A5 shape)
    is the argmin of the governing ledger, and the weights plug into
    :func:`tagger.tag_sentences`/:func:`tagger.save_weights`.

    Training-stability knobs mirror the reference's (ref:src/lazrnn.py
    ``lasagne.updates`` + ``--gclip``; ref:src/exper.py dev-F1 model
    selection — reconstructed): ``momentum`` = classical momentum
    (v ← m·v − lr·g; w ← w + v), ``clip_norm`` = global-norm gradient
    clipping, ``dev`` = held-out set scored each epoch with a
    forward-only exact job (:func:`dataset_cost`) — when given,
    ``best_epoch``/returned weights follow the DEV ledger, and
    ``patience`` stops early after that many epochs without a dev
    improvement. All update math is driver-side float64, so every knob
    preserves the bitwise partitioning-independence of the trajectory.

    ``checkpoint_dir`` makes the run resumable: float64 masters, momentum
    velocity, and both cost ledgers are written atomically after every
    epoch, and a rerun picks up after the latest complete epoch. Because
    the epoch schedule is state-free (hash of (sent_id, epoch, seed)) and
    the gradient aggregation is exact int64, a resumed run's weights and
    costs are BITWISE equal to an uninterrupted run's — pinned in
    tests/test_training.py."""
    w = init if init is not None else init_weights(lang)
    w = {k: v.copy() for k, v in w.items()}
    vel = {k: np.zeros_like(w[k]) for k in PARAM_KEYS}
    costs: list[tuple[int, float]] = []
    dev_costs: list[tuple[int, float]] = []
    start_epoch = 0
    # the trajectory-defining hyperparameters travel with the checkpoint:
    # resuming under different ones would silently train a DIFFERENT run —
    # fail loud instead (epochs is extendable on purpose)
    hp = {"lang": lang, "lr": lr, "n_batches": n_batches, "seed": seed,
          "momentum": momentum, "clip_norm": clip_norm}
    if checkpoint_dir is not None:
        got = _load_checkpoint(checkpoint_dir)
        if got is not None:
            if got[5] is not None and got[5] != hp:
                raise ValueError(
                    f"checkpoint at {checkpoint_dir} was written with "
                    f"hyperparameters {got[5]}, not {hp}; use a fresh "
                    "checkpoint_dir to start a different run"
                )
            start_epoch, w, costs = got[0] + 1, got[1], list(got[2])
            if got[3]:
                vel = got[3]
            dev_costs = list(got[4])
    sents = sents.select("sent_id", "text", "labels")
    sents.persist()
    best_w: dict[str, np.ndarray] | None = None
    best_dev_epoch = min(dev_costs, key=lambda ec: ec[1])[0] if dev_costs else -1
    for epoch in range(start_epoch, epochs):
        dealt = with_batch_col(sents, epoch, n_batches, seed)
        loss_sum = 0.0
        char_sum = 0
        for b in range(n_batches):
            grad, loss, n_chars = batch_gradient(
                dealt.filter(F.col("batch") == b), w)
            if n_chars == 0:
                continue
            gvec = grad / n_chars
            if clip_norm > 0.0:
                gn = float(np.sqrt(gvec @ gvec))
                if gn > clip_norm:
                    gvec = gvec * (clip_norm / gn)
            gd = unflatten(gvec, w)
            for k in PARAM_KEYS:
                if momentum > 0.0:
                    vel[k] *= momentum
                    vel[k] -= lr * gd[k]
                    w[k] += vel[k]
                else:
                    w[k] -= lr * gd[k]
            loss_sum += loss
            char_sum += n_chars
        costs.append((epoch, loss_sum / max(char_sum, 1)))
        if dev is not None:
            dc = dataset_cost(dev, w)
            dev_costs.append((epoch, dc))
            if best_dev_epoch < 0 or dc < min(c for e, c in dev_costs[:-1]):
                best_dev_epoch = epoch
                best_w = {k: v.copy() for k, v in w.items()}
        if checkpoint_dir is not None:
            _checkpoint_epoch(checkpoint_dir, epoch, w, costs, vel,
                              dev_costs, hp)
        if (dev is not None and patience is not None
                and epoch - best_dev_epoch >= patience):
            break
    sents.unpersist()
    if dev is not None and dev_costs:
        best = min(dev_costs, key=lambda ec: ec[1])[0]
        if best_w is None and checkpoint_dir is not None:
            # resumed straight past the best epoch — its masters are on disk
            best_w, _ = _load_epoch_file(checkpoint_dir, best)
        out_w = best_w if best_w is not None else w
        return {"weights": finalize_weights(out_w), "costs": costs,
                "dev_costs": dev_costs, "best_epoch": best}
    best = min(costs, key=lambda ec: ec[1])[0] if costs else 0
    return {"weights": finalize_weights(w), "costs": costs, "best_epoch": best}


def costs_table(spark: SparkSession, costs: list[tuple[int, float]]) -> DataFrame:
    """A3 epoch-cost-mean ledger as a DataFrame (epoch, mean_cost)."""
    return spark.createDataFrame(
        [(int(e), float(c)) for e, c in costs], "epoch int, mean_cost double"
    )


def conll_to_train_df(conll: DataFrame) -> DataFrame:
    """(file, sent_id, tokens, tags) from :func:`sources.read_conll` →
    (sent_id, text, labels): text joins tokens with single spaces, labels
    are per-char class ids via the std char scheme (P1 projection +
    P3 scheme conversion, shared with the inference fixtures)."""
    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cls_id = {c: i for i, c in enumerate(CLASSES)}
        for pdf in batches:
            out = []
            for file, sid, tokens, tags in zip(
                pdf["file"], pdf["sent_id"], pdf["tokens"], pdf["tags"]
            ):
                text = " ".join(tokens)
                classes = S.word_tags_to_char_classes(text, list(tags))
                out.append((
                    f"{file}#{sid}",
                    text,
                    [cls_id[c] for c in classes],
                ))
            yield pd.DataFrame(out, columns=["sent_id", "text", "labels"])
    return conll.mapInPandas(
        go, schema="sent_id string, text string, labels array<int>"
    )
