"""Inference backends.

The reference binds exclusively to TorchScript via libtorch
(src/udf.rs:126-136: load on device + eval mode). Torch is optional in
this environment, so the backend is pluggable:

* ``TorchScriptBackend`` — ``torch.jit.load(...).eval()``, used when the
  artifact is a TorchScript archive and torch imports.
* ``NumpyMLPBackend`` — a ``.npz`` of sequential Linear(+ReLU) weights
  executed with numpy. Serves as the degradation path and as the oracle
  for golden tests (FIXTURES.md §3).

A predictor is ``(np.ndarray[..., rows, d]) -> np.ndarray[..., rows, k]``:
each leading index is one forward call of ``rows`` rows. The numpy MLP
meets this natively (a stacked ``matmul`` runs one GEMM per leading
index); a backend whose forward takes only 2-D input is lifted to it by
:func:`per_leading_index`.
"""

from __future__ import annotations

import io
from collections.abc import Callable

import numpy as np

Predictor = Callable[[np.ndarray], np.ndarray]


def per_leading_index(forward: Predictor) -> Predictor:
    """Lift a 2-D forward ``(rows, d) -> (rows, k)`` to the stacked
    predictor contract by calling it once per leading index, so every
    forward still sees exactly ``rows`` rows."""

    def predict(x: np.ndarray) -> np.ndarray:
        if x.ndim == 2:
            return forward(x)
        out = np.stack([forward(item) for item in x.reshape(-1, *x.shape[-2:])])
        return out.reshape(*x.shape[:-2], *out.shape[1:])

    return predict


def _npz_predictor(model_bytes: bytes) -> Predictor:
    with np.load(io.BytesIO(model_bytes)) as z:
        layers = []
        i = 0
        while f"W{i}" in z:
            layers.append((z[f"W{i}"].copy(), z[f"b{i}"].copy()))
            i += 1
    if not layers:
        raise ValueError("npz model has no W0/b0 layers")

    def predict(x: np.ndarray) -> np.ndarray:
        out = x.astype(np.float32, copy=False)
        last = len(layers) - 1
        for j, (w, b) in enumerate(layers):
            out = out @ w.T + b
            if j != last:
                out = np.maximum(out, 0.0)  # ReLU (mirrors the iris MLP shape)
        return out

    return predict


def _torchscript_predictor(model_bytes: bytes, device: str, cuda_device: int) -> Predictor:
    import torch

    dev = torch.device(f"cuda:{cuda_device}" if device == "cuda" else device)
    module = torch.jit.load(io.BytesIO(model_bytes), map_location=dev)
    module.eval()

    def forward(x: np.ndarray) -> np.ndarray:
        with torch.inference_mode():
            t = torch.from_numpy(np.ascontiguousarray(x)).to(dev)
            return module(t).cpu().numpy()

    return per_leading_index(forward)


def load_predictor(
    model_bytes: bytes, uri: str, device: str = "cpu", cuda_device: int = 0
) -> Predictor:
    """Deserialize model bytes into a predictor, dispatching on format.

    ``.npz`` → numpy MLP; anything else is treated as TorchScript (the
    reference's only format, src/udf.rs:127). A missing torch install
    raises with a pointer to the numpy format instead of failing opaquely.
    """
    if uri.endswith(".npz"):
        return _npz_predictor(model_bytes)
    try:
        return _torchscript_predictor(model_bytes, device, cuda_device)
    except ImportError as e:
        raise ImportError(
            f"model '{uri}' looks like TorchScript but torch is not installed; "
            "install torch or provide a .npz MLP artifact"
        ) from e
