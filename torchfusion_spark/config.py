"""The ``torchfusion.*`` session-config namespace.

Mirrors the reference's config extension (reference: src/config.rs:1-104):
keys ``device`` / ``cuda_device`` / ``batch_size`` under prefix
``torchfusion``, defaults ``cpu`` / ``0`` / ``1`` (src/config.rs:15-23),
validation on set (src/config.rs:38-57), device gated on hardware
availability (src/config.rs:82-92), unknown keys rejected
(src/config.rs:51-53), and introspection entries with the reference's
descriptions (src/config.rs:59-78).

Spark-side the values live in ``spark.conf`` (runtime confs accept
arbitrary keys); this module owns validation and the settings DataFrame
that stands in for ``information_schema.df_settings``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

PREFIX = "torchfusion"

# (key, default, description) — descriptions follow reference src/config.rs:61-77.
ENTRIES: list[tuple[str, str, str]] = [
    (
        f"{PREFIX}.device",
        "cpu",
        "Device to run model on. Valid values 'cpu', 'cuda', 'mps', 'vulkan'. Default: 'cpu' ",
    ),
    (
        f"{PREFIX}.cuda_device",
        "0",
        "Cuda device to use. Valid value positive integer. Default: 0",
    ),
    (
        f"{PREFIX}.batch_size",
        "1",
        "Batch size to be used. Valid value positive non-zero integers. Default: 1",
    ),
]

_DEFAULTS = {key: default for key, default, _ in ENTRIES}


class TorchConfigError(ValueError):
    """Configuration error (maps DataFusionError::Configuration)."""


# The probes catch broad Exception, not just ImportError: a
# present-but-broken torch (OSError importing CUDA libs) or an older
# torch without torch.backends.mps (AttributeError) must read as "device
# unavailable" — so validate() raises its documented TorchConfigError —
# rather than leak a raw exception through the SET front door.


def _has_cuda() -> bool:
    try:
        import torch

        return torch.cuda.is_available()
    except Exception:  # noqa: BLE001 — a broken torch reads as no device
        return False


def _has_mps() -> bool:
    try:
        import torch

        return bool(getattr(torch.backends, "mps", None)) and torch.backends.mps.is_available()
    except Exception:  # noqa: BLE001 — a broken torch reads as no device
        return False


def _has_vulkan() -> bool:
    try:
        import torch

        return bool(getattr(torch, "is_vulkan_available", lambda: False)())
    except Exception:  # noqa: BLE001 — a broken torch reads as no device
        return False


def validate(key: str, value: str) -> str:
    """Validate a ``torchfusion.<key>`` assignment; return normalized value.

    Mirrors TorchConfig::set (reference src/config.rs:38-57) + parse_device
    (src/config.rs:82-92): device must name an *available* backend; device
    ids must parse as non-negative integers and batch sizes as positive
    ones; unknown keys error.
    """
    short = key.lower().removeprefix(f"{PREFIX}.")
    if short == "device":
        device = value.strip().strip("'\"").lower()
        if device == "cpu":
            return "cpu"
        if device == "cuda" and _has_cuda():
            return "cuda"
        if device == "mps" and _has_mps():
            return "mps"
        if device == "vulkan" and _has_vulkan():
            return "vulkan"
        raise TorchConfigError(f"Device '{device}' not supported")
    if short == "cuda_device":
        try:
            n = int(value)
            if n < 0:
                raise ValueError
        except ValueError:
            raise TorchConfigError("Cuda device id format not correct") from None
        return str(n)
    if short == "batch_size":
        try:
            n = int(value)
            if n <= 0:
                raise ValueError
        except ValueError:
            raise TorchConfigError("batch size not correct") from None
        return str(n)
    raise TorchConfigError(f"No configuration key: {short}")


def seed_defaults(spark: SparkSession) -> None:
    """Install defaults for any torchfusion.* key not already set."""
    for key, default in _DEFAULTS.items():
        if spark.conf.get(key, None) is None:
            spark.conf.set(key, default)


def set_option(spark: SparkSession, key: str, value: str) -> None:
    spark.conf.set(f"{PREFIX}.{key.lower().removeprefix(PREFIX + '.')}", validate(key, value))


@dataclass(frozen=True)
class TorchConfig:
    """Frozen snapshot of the namespace, captured at function-create time.

    The reference freezes device/batch_size into the UDF when ``CREATE
    FUNCTION`` runs; changing config later requires re-creating the function
    (reference src/lib.rs:81-94). We reproduce that by snapshotting here.
    """

    device: str = "cpu"
    cuda_device: int = 0
    batch_size: int = 1

    @classmethod
    def from_spark(cls, spark: SparkSession) -> "TorchConfig":
        """Snapshot the namespace, validating each key: a plain
        ``spark.sql("SET torchfusion.…")`` bypasses :func:`set_option`, so a
        bad value must fail here, on the driver, not in the workers."""
        seed_defaults(spark)
        snap = {key: validate(key, spark.conf.get(key)) for key in _DEFAULTS}
        return cls(
            device=snap[f"{PREFIX}.device"],
            cuda_device=int(snap[f"{PREFIX}.cuda_device"]),
            batch_size=int(snap[f"{PREFIX}.batch_size"]),
        )


def settings_df(spark: SparkSession) -> DataFrame:
    """DataFrame equivalent of ``information_schema.df_settings`` filtered to
    the torchfusion namespace (reference src/config.rs:59-78, README.md:97-108).
    """
    seed_defaults(spark)
    rows = [
        (key, spark.conf.get(key, default), desc) for key, default, desc in ENTRIES
    ]
    return spark.createDataFrame(rows, "name string, value string, description string")
