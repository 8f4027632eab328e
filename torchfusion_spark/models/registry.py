"""Model fetch + UDF registration (reference: TorchFunctionFactory,
src/lib.rs:23-100).

Flow (mirrors SURVEY §3.1): fetch bytes through a store abstraction on the
driver → snapshot ``torchfusion.*`` config (freeze-at-create,
src/lib.rs:81-94) → ``sc.broadcast`` the bytes so each executor ships them
once → iterator-form Arrow UDF with a per-worker predictor cache: each
batch's ListArray values and offsets are read zero-copy, its full
``torchfusion.batch_size`` mini-batches scored by one stacked predictor
call (one GEMM per mini-batch) plus one call for the short tail, and the
output rebuilt as a ListArray, with no per-row or per-mini-batch Python
call (src/udf.rs:164-179,191-248) → ``spark.udf.register``.

Each registration also registers a hidden argmax head,
``argmax_head(name)(array<I>) -> int``, on the same broadcast,
registration token, predictor cache and :func:`_score_list_array` call:
it reduces each scored row to the index of its first maximum in the
worker, so ``argmax(<name>(x))`` — which ``Engine.sql`` rewrites to the
head — sends one ``int`` per row back to the JVM instead of the row's
logits (the reference chains ``src/udf.rs`` into ``src/argmax.rs`` in one
process the same way).

The declared return type is honored exactly — the reference's
``(f64, f64)`` arm silently returns f32 (src/udf.rs:49-57); we fix that
quirk per SURVEY §2-A2.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from torchfusion_spark.config import TorchConfig

_SPARK_TO_NUMPY = {
    "float": np.float32,
    "double": np.float64,
    "int": np.int32,
    "bigint": np.int64,
}

# the hidden argmax head of function ``f`` is ``__tf_argmax_f``
ARGMAX_HEAD_PREFIX = "__tf_argmax_"


def _element_dtype(array_type_ddl: str) -> np.dtype:
    """Extract the numpy dtype of the array element from a DDL string.

    Analogue of the reference's optimistic ``find_item_type``
    (src/lib.rs:102-116): defaults to float32 when unparseable.
    """
    inner = array_type_ddl.strip().lower()
    if inner.startswith("array<") and inner.endswith(">"):
        inner = inner[len("array<") : -1]
    return np.dtype(_SPARK_TO_NUMPY.get(inner, np.float32))


def fetch_bytes(uri: str) -> bytes:
    """Read a model artifact from local FS / file:// / s3:// / http(s)://.

    The object-store-registry analogue (src/lib.rs:64-77; S3 wiring
    src/lib.rs:203-216). S3 credentials come from the standard AWS env/
    config chain; the optional deps are import-gated.
    """
    parsed = urlparse(uri)
    scheme = parsed.scheme
    if scheme in ("", "file"):
        path = parsed.path if scheme == "file" else uri
        with open(path, "rb") as f:
            return f.read()
    if scheme == "s3":
        try:
            import boto3
        except ImportError as e:  # pragma: no cover - env without boto3
            raise ImportError("s3:// model URIs require boto3") from e
        client_kwargs = {}
        if os.environ.get("AWS_ENDPOINT_URL"):
            client_kwargs["endpoint_url"] = os.environ["AWS_ENDPOINT_URL"]
        s3 = boto3.client("s3", **client_kwargs)
        obj = s3.get_object(Bucket=parsed.netloc, Key=parsed.path.lstrip("/"))
        return obj["Body"].read()
    if scheme in ("http", "https"):
        from urllib.request import urlopen

        with urlopen(uri) as r:  # noqa: S310 - explicit user-supplied URI
            return r.read()
    raise ValueError(f"unsupported model URI scheme: {scheme!r} ({uri})")


# Per-WORKER predictor cache (module-level: Spark reuses Python worker
# processes across tasks, so this dict outlives a task). Keyed by a
# driver-generated registration token — unique per registration, so
# CREATE OR REPLACE with new bytes gets a fresh entry while every task of
# one registration shares one deserialized model instead of re-loading
# per task (src/udf.rs loads once per UDF instance; 32 partitions ≠ 32
# torch.jit.loads).
_PREDICTOR_CACHE: dict[tuple, object] = {}


def _worker_predictor(bc, uri: str, reg_token: str, device: str, cuda_device: int):
    from torchfusion_spark.models.backends import load_predictor

    key = (reg_token, device, cuda_device)
    p = _PREDICTOR_CACHE.get(key)
    if p is None:
        if len(_PREDICTOR_CACHE) >= 8:  # bound worker memory across re-registrations
            _PREDICTOR_CACHE.clear()
        p = load_predictor(bc.value, uri, device, cuda_device)
        _PREDICTOR_CACHE[key] = p
    return p


def _score_list_array(
    arr: pa.ListArray, predictor, batch_size: int, in_dtype: np.dtype, out_dtype: np.dtype
) -> pa.ListArray:
    """Score one Arrow batch of feature rows; one output list per input row.

    The predictor is called at most twice: once on every full mini-batch
    stacked as a ``(n // batch_size, batch_size, d)`` view, once on the
    short final ``(n % batch_size, d)`` batch. Under the stacked predictor
    contract (models/backends.py) each leading index is one forward of
    ``batch_size`` rows, so this does exactly the arithmetic of the
    reference's per-batch loop (src/udf.rs:191-222) — bit-identical to
    ``create_batched`` → predictor → ``flatten_batched`` — without a Python
    call per mini-batch.

    ``arr.offsets`` honors a slice of ``arr`` while ``arr.values`` is the
    whole child buffer, so the offsets index the values directly.
    """
    if arr.null_count:  # the reference has no null handling (src/udf.rs:210)
        raise ValueError(
            f"LANGUAGE TORCH input rows must not be NULL ({arr.null_count} of {len(arr)} are)"
        )
    n = len(arr)
    if n == 0:
        return pa.array([], type=pa.list_(pa.from_numpy_dtype(out_dtype)))
    offsets = arr.offsets.to_numpy()
    widths = np.diff(offsets)
    width = int(widths[0])
    if (widths != width).any():  # one reshape would misalign ragged rows
        raise ValueError(
            "LANGUAGE TORCH input rows must all have the same length "
            f"(found {widths.min()} to {widths.max()} in one batch of {n})"
        )
    values = arr.values.to_numpy(zero_copy_only=False)[offsets[0] : offsets[-1]]
    x = values.astype(in_dtype, copy=False).reshape(n, width)
    full = n - n % batch_size
    outs = []
    if full:
        outs.append(predictor(x[:full].reshape(-1, batch_size, width)).reshape(-1))
    if full < n:
        outs.append(predictor(x[full:]).reshape(-1))
    flat = outs[0] if len(outs) == 1 else np.concatenate(outs)
    out_offsets = np.arange(n + 1, dtype=np.int32) * np.int32(flat.size // n)
    return pa.ListArray.from_arrays(out_offsets, flat.astype(out_dtype, copy=False))


def _argmax_list_array(scores: pa.ListArray) -> pa.Array:
    """0-based index of each row's first maximum, as ``int``, over a
    uniform-width ListArray as :func:`_score_list_array` builds it; NULL
    for a zero-width row. Rows compare the way the SQL ``argmax`` compares
    them after its cast to ``ARRAY<DOUBLE>``: NaN is the maximum, and
    ``bigint`` values round to double first."""
    n = len(scores)
    width = scores.offsets[1].as_py() - scores.offsets[0].as_py() if n else 0
    if width == 0:
        return pa.nulls(n, pa.int32())
    values = scores.values.to_numpy()
    if values.dtype == np.int64:
        values = values.astype(np.float64)
    return pa.array(values.reshape(n, width).argmax(axis=1).astype(np.int32))


def argmax_head(name: str) -> str:
    """Name of the hidden argmax head registered beside function ``name``."""
    return f"{ARGMAX_HEAD_PREFIX}{name.lower()}"


def register_torch_udf(
    spark: SparkSession,
    name: str,
    uri: str,
    input_type: str = "array<float>",
    return_type: str = "array<float>",
) -> None:
    """Create and register the inference UDF ``name(array<I>) -> array<R>``
    and its argmax head ``argmax_head(name)(array<I>) -> int``.

    Matches the reference signature: exactly one array argument
    (src/udf.rs:108-115), deterministic/immutable (Spark default), output
    row width set by the model (src/udf.rs:242-245).
    """
    cfg = TorchConfig.from_spark(spark)  # freeze-at-create (src/lib.rs:81-94)
    model_bytes = fetch_bytes(uri)
    bc = spark.sparkContext.broadcast(model_bytes)
    import uuid

    reg_token = uuid.uuid4().hex  # per-registration worker-cache key
    in_dtype = _element_dtype(input_type)
    out_dtype = _element_dtype(return_type)
    batch_size = cfg.batch_size
    device, cuda_device = cfg.device, cfg.cuda_device

    def infer(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        predictor = _worker_predictor(bc, uri, reg_token, device, cuda_device)
        for arr in it:
            yield _score_list_array(arr, predictor, batch_size, in_dtype, out_dtype)

    def infer_argmax(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for scores in infer(it):
            yield _argmax_list_array(scores)

    spark.udf.register(name, F.arrow_udf(infer, returnType=_parse_datatype_string(return_type)))
    spark.udf.register(argmax_head(name), F.arrow_udf(infer_argmax, returnType="int"))
