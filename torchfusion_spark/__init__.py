"""torchfusion_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of milenkovicm/torchfusion.

The reference (939 LoC Rust on DataFusion 45) contributes:
  * ``CREATE FUNCTION <name>(FLOAT[]) RETURNS FLOAT[] LANGUAGE TORCH AS '<uri>'``
    DDL that loads a TorchScript model and registers a vectorized scalar UDF
    (reference: src/lib.rs:23-100, src/udf.rs:20-287)
  * an ``argmax(array) -> int`` scalar UDF (reference: src/argmax.rs)
  * a ``torchfusion.*`` session-config namespace settable via SQL ``SET``
    and introspectable via information_schema (reference: src/config.rs)
  * the full SQL engine surface of DataFusion, enabled wholesale
    (reference: src/lib.rs:118-137)

Here layer B (the engine) is Spark SQL itself; layer A is this package:
a SQL front door (:class:`~torchfusion_spark.engine.Engine`), a model
registry producing Arrow-native iterator UDFs, the ``argmax`` function,
and a validated config namespace — plus large-scale data-pipeline
extension operators (dedup, similarity, text analysis, multimodal) that go
beyond the reference surface.

The root imports nothing (``session`` is in :mod:`torchfusion_spark.session`,
``Engine`` in :mod:`torchfusion_spark.engine`), so the worker daemon picks
its pyspark before any import of it.
"""

__version__ = "0.1.0"
