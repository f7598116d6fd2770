"""Pure-numpy LSTM next-block predictor.

Model parity with the reference's ``LSTMPrefetcher`` (reference
model.py:164-196): Embedding(vocab → 16, pad=0) → single-layer
LSTM(16 → 64) → Linear(64 → vocab), applied to variable-length block-id
sequences, scoring from the last valid hidden state. Training parity
with the *active* trainer (reference retrain_model.py:92-165):
multi-hot labels + BCE-with-logits, Adam lr 1e-3, batch 32, 10 epochs.

PyTorch is not available in this container, so forward + BPTT + Adam
are implemented directly in numpy. The model is tiny (vocab ≈ number
of distinct blocks, ~10³) and lives on the Spark DRIVER; nothing here
touches the data plane.

Two forward kernels, one per shape of work:

- ``forward`` is the batched training/evaluation path. Its products are
  BLAS matmuls over a padded batch, which is what ``fit`` and
  ``evaluate`` want.
- ``predict`` is the one-sequence foreground path the prefetch
  scheduler calls once per cycle. Its products are vector–matrix
  products of at most 64×256 (and 64×vocab), computed with
  ``np.einsum`` in numpy's own loops, so it makes no BLAS call. A
  threaded BLAS hands even a (1, 64) @ (64, 256) product to its worker
  pool, and the workers then busy-wait (~130 ms on OpenBLAS) after the
  call returns: on 4 cores one 64-step ``forward([seq])`` cost about
  390 ms of CPU across a 200 ms sleep, ``predict`` about 2 ms. The two
  kernels give bit-identical logits for one sequence
  (``tests/test_lstm_inference.py``).
"""

from __future__ import annotations

import json
import os

import numpy as np

PAD = 0  # token 0 reserved for padding/unknown (reference training_set_generator.py:25-34)


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-np.clip(x, -60, 60)))


class LSTMPrefetcher:
    """Embedding → LSTM → Linear scorer over block-id vocab."""

    def __init__(
        self,
        num_tokens: int,
        embed_dim: int = 16,
        hidden_dim: int = 64,
        seed: int = 0,
    ) -> None:
        self.num_tokens = num_tokens
        self.embed_dim = embed_dim
        self.hidden_dim = hidden_dim
        rng = np.random.RandomState(seed)
        D, H, V = embed_dim, hidden_dim, num_tokens

        def glorot(fan_in, fan_out, shape):
            s = np.sqrt(6.0 / (fan_in + fan_out))
            return rng.uniform(-s, s, shape)

        self.params: dict[str, np.ndarray] = {
            "E": glorot(V, D, (V, D)),
            "Wx": glorot(D, 4 * H, (D, 4 * H)),
            "Wh": glorot(H, 4 * H, (H, 4 * H)),
            "b": np.zeros(4 * H),
            "Wy": glorot(H, V, (H, V)),
            "by": np.zeros(V),
        }
        self.params["E"][PAD] = 0.0
        # Adam state
        self._m = {k: np.zeros_like(v) for k, v in self.params.items()}
        self._v = {k: np.zeros_like(v) for k, v in self.params.items()}
        self._t = 0

    # ------------------------------------------------------------ forward
    def _pad_batch(self, seqs: list[list[int]]) -> tuple[np.ndarray, np.ndarray]:
        B = len(seqs)
        T = max(len(s) for s in seqs)
        x = np.full((B, T), PAD, dtype=np.int64)
        lengths = np.zeros(B, dtype=np.int64)
        for i, s in enumerate(seqs):
            x[i, : len(s)] = s
            lengths[i] = len(s)
        return x, lengths

    def forward(
        self, seqs: list[list[int]], cache: bool = False
    ) -> np.ndarray | tuple[np.ndarray, dict]:
        """Logits (B, V) from the last valid hidden state per sequence."""
        x, lengths = self._pad_batch(seqs)
        p = self.params
        B, T = x.shape
        H = self.hidden_dim
        h = np.zeros((B, H))
        c = np.zeros((B, H))
        steps = []
        for t in range(T):
            emb = p["E"][x[:, t]]                      # (B, D)
            mask = (t < lengths).astype(float)[:, None]  # (B, 1)
            z = emb @ p["Wx"] + h @ p["Wh"] + p["b"]
            i_g = _sigmoid(z[:, :H])
            f_g = _sigmoid(z[:, H : 2 * H])
            g_g = np.tanh(z[:, 2 * H : 3 * H])
            o_g = _sigmoid(z[:, 3 * H :])
            c_new = f_g * c + i_g * g_g
            h_new = o_g * np.tanh(c_new)
            c_next = mask * c_new + (1 - mask) * c
            h_next = mask * h_new + (1 - mask) * h
            if cache:
                steps.append(
                    dict(
                        emb=emb, h_prev=h, c_prev=c, i=i_g, f=f_g, g=g_g, o=o_g,
                        c_new=c_new, mask=mask, tok=x[:, t],
                    )
                )
            h, c = h_next, c_next
        logits = h @ p["Wy"] + p["by"]
        if cache:
            return logits, dict(steps=steps, h_last=h, x=x, lengths=lengths)
        return logits

    def predict(self, seq: list[int]) -> np.ndarray:
        """Logits (V,) for one sequence, with no BLAS call: the same
        arithmetic as ``forward([seq])[0]`` (every step is valid, so no
        mask), with each product done by ``np.einsum``."""
        p = self.params
        H = self.hidden_dim
        h = np.zeros(H)
        c = np.zeros(H)
        for emb in p["E"][np.asarray(seq, dtype=np.int64)]:
            z = (
                np.einsum("d,dg->g", emb, p["Wx"])
                + np.einsum("h,hg->g", h, p["Wh"])
                + p["b"]
            )
            i_g = _sigmoid(z[:H])
            f_g = _sigmoid(z[H : 2 * H])
            g_g = np.tanh(z[2 * H : 3 * H])
            o_g = _sigmoid(z[3 * H :])
            c = f_g * c + i_g * g_g
            h = o_g * np.tanh(c)
        return np.einsum("h,hv->v", h, p["Wy"]) + p["by"]

    # ----------------------------------------------------------- training
    def train_step(
        self,
        seqs: list[list[int]],
        multi_hot: np.ndarray,
        lr: float = 1e-3,
        loss_mode: str = "bce",
    ) -> float:
        """One optimizer step with Adam. Two objectives, matching the
        reference's two trainers:

        - ``bce``: BCE-with-logits over multi-hot labels (the runbook
          trainer, reference retrain_model.py:117-127),
        - ``ce``: softmax cross-entropy (reference model.py:212) — the
          better objective for single-next-block labels, used by our
          ``fit`` default.
        """
        p = self.params
        H = self.hidden_dim
        logits, cache = self.forward(seqs, cache=True)
        B = logits.shape[0]
        eps = 1e-12
        if loss_mode == "ce":
            z = logits - logits.max(axis=1, keepdims=True)
            ez = np.exp(z)
            softmax = ez / ez.sum(axis=1, keepdims=True)
            target = multi_hot / np.maximum(multi_hot.sum(axis=1, keepdims=True), 1)
            loss = float(-np.mean(np.sum(target * np.log(softmax + eps), axis=1)))
            dlogits = (softmax - target) / B
        else:
            probs = _sigmoid(logits)
            loss = float(
                -np.mean(
                    multi_hot * np.log(probs + eps)
                    + (1 - multi_hot) * np.log(1 - probs + eps)
                )
            )
            dlogits = (probs - multi_hot) / (B * logits.shape[1])   # (B, V)

        grads = {k: np.zeros_like(v) for k, v in p.items()}
        grads["Wy"] = cache["h_last"].T @ dlogits
        grads["by"] = dlogits.sum(axis=0)
        dh = dlogits @ p["Wy"].T
        dc = np.zeros((B, H))
        for step in reversed(cache["steps"]):
            mask = step["mask"]
            # through the masked select
            dh_new = dh * mask
            dc_new = dc * mask
            dh_carry = dh * (1 - mask)
            dc_carry = dc * (1 - mask)
            tanh_c = np.tanh(step["c_new"])
            do = dh_new * tanh_c
            dc_new = dc_new + dh_new * step["o"] * (1 - tanh_c**2)
            di = dc_new * step["g"]
            dg = dc_new * step["i"]
            df = dc_new * step["c_prev"]
            dc_prev = dc_new * step["f"]
            dz = np.concatenate(
                [
                    di * step["i"] * (1 - step["i"]),
                    df * step["f"] * (1 - step["f"]),
                    dg * (1 - step["g"] ** 2),
                    do * step["o"] * (1 - step["o"]),
                ],
                axis=1,
            )
            grads["Wx"] += step["emb"].T @ dz
            grads["Wh"] += step["h_prev"].T @ dz
            grads["b"] += dz.sum(axis=0)
            demb = dz @ p["Wx"].T
            np.add.at(grads["E"], step["tok"], demb)
            dh = dz @ p["Wh"].T + dh_carry
            dc = dc_prev + dc_carry
        grads["E"][PAD] = 0.0

        # Adam
        self._t += 1
        b1, b2, eps_a = 0.9, 0.999, 1e-8
        for k in p:
            self._m[k] = b1 * self._m[k] + (1 - b1) * grads[k]
            self._v[k] = b2 * self._v[k] + (1 - b2) * grads[k] ** 2
            m_hat = self._m[k] / (1 - b1**self._t)
            v_hat = self._v[k] / (1 - b2**self._t)
            p[k] -= lr * m_hat / (np.sqrt(v_hat) + eps_a)
        return float(loss)

    def fit(
        self,
        inputs: list[list[int]],
        labels: list[int] | list[list[int]],
        epochs: int = 10,
        batch_size: int = 32,
        lr: float = 1e-3,
        seed: int = 0,
        verbose: bool = False,
        loss_mode: str = "ce",
    ) -> list[float]:
        """Reference trainer loop (retrain_model.py:109-147): labels are
        next-block ids (or id lists), multi-hot encoded per window."""
        rng = np.random.RandomState(seed)
        n = len(inputs)
        losses = []
        for epoch in range(epochs):
            order = rng.permutation(n)
            total, batches = 0.0, 0
            for s in range(0, n, batch_size):
                idx = order[s : s + batch_size]
                seqs = [inputs[i] for i in idx]
                mh = np.zeros((len(idx), self.num_tokens))
                for row, i in enumerate(idx):
                    lab = labels[i]
                    for tok in [lab] if isinstance(lab, (int, np.integer)) else lab:
                        mh[row, int(tok)] = 1.0
                total += self.train_step(seqs, mh, lr=lr, loss_mode=loss_mode)
                batches += 1
            losses.append(total / max(batches, 1))
            if verbose:
                print(f"epoch {epoch + 1}: loss {losses[-1]:.5f}")
        return losses

    # --------------------------------------------------------- persistence
    def save(self, path: str) -> None:
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        np.savez(
            path,
            num_tokens=self.num_tokens,
            embed_dim=self.embed_dim,
            hidden_dim=self.hidden_dim,
            **self.params,
        )

    @classmethod
    def load(cls, path: str) -> "LSTMPrefetcher":
        if not path.endswith(".npz"):
            path = path + ".npz"
        data = np.load(path)
        model = cls(
            int(data["num_tokens"]),
            int(data["embed_dim"]),
            int(data["hidden_dim"]),
        )
        for k in model.params:
            model.params[k] = data[k]
        return model
