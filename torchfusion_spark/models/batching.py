"""Pure-numpy batching/flatten kernels mirroring the reference semantics.

The reference slices an Arrow ListArray's flat values buffer by offsets
into contiguous ``[batch_size, n_features]`` tensors (create_batched_tensor,
src/udf.rs:191-222; short final batch at :202) and flattens model output
back into a list array with reconstructed offsets (flatten_batched_tensor,
src/udf.rs:224-248; output row width = total elements / rows :242-245).

These functions exist standalone so the reference's unit tests
(src/udf.rs:289-398) translate one-to-one, and so inference results are
provably independent of batch_size (the reference's loop invariant).
They are the per-mini-batch specification of the UDF: the hot path,
``models.registry._score_list_array``, scores all full mini-batches of an
Arrow batch in one stacked predictor call instead, and its tests pin it
bit-identical to ``create_batched`` → predictor → ``flatten_batched``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np


def create_batched(
    values: np.ndarray, offsets: np.ndarray, batch_size: int
) -> Iterator[np.ndarray]:
    """Yield ``[<=batch_size, row_width]`` matrices from a flat values buffer.

    ``offsets`` has n_rows+1 entries (Arrow list offsets). Rows are assumed
    dense and equal-width within a batch — the same optimistic contract as
    the reference (no null handling, reshape to [n, -1] at src/udf.rs:210).
    """
    n_rows = len(offsets) - 1
    for start in range(0, n_rows, batch_size):
        end = min(start + batch_size, n_rows)
        chunk = values[offsets[start] : offsets[end]]
        yield np.asarray(chunk).reshape(end - start, -1)


def flatten_batched(batches: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate 2-D model outputs back to (flat_values, offsets).

    Offsets are reconstructed from the uniform output row width, exactly as
    flatten_batched_tensor does (src/udf.rs:224-248).
    """
    if not batches:
        return np.array([]), np.array([0])
    flat = np.concatenate([np.asarray(b).reshape(len(b), -1) for b in batches])
    n_rows = sum(len(b) for b in batches)
    width = flat.size // n_rows if n_rows else 0
    offsets = np.arange(0, n_rows * width + 1, width) if width else np.zeros(n_rows + 1, dtype=np.int64)
    return flat.reshape(-1), offsets
