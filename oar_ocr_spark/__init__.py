"""oar_ocr_spark — a PySpark-native document-extraction engine.

A from-scratch re-expression of the capabilities of GreatV/oar-ocr
(reference at /root/reference, Rust) as a DAG of pyspark.sql DataFrame
transforms over an Iceberg-style table of interleaved text+media
documents::

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Recognition runs as a batch-level Arrow/pandas UDF that stacks each
Arrow batch's crops per width bucket; detection, structure and the
codec and container stores run per row, Arrow-batched, through
``partitioning.python_stage``. Geometry/ordering operators are
faithful numpy ports of the reference's processors, pinned by unit
tests copied 1:1 from the reference's `#[test]` suites. Importing the
package makes a Python worker skip re-reading unchanged zip archives on
every task (``_pyworker``, Python < 3.12).

Layout:
- ``operators/``  numpy ports: sorting, geometry, CTC decode, DB
  postprocess, stitching text-join (reference parity cited per fn).
- ``models/``     deterministic synthetic "neural" models (stand-ins
  for ONNX inference — same batching/stacking shape, reproducible).
- ``fixtures/``   deterministic corpus generator + page renderer.
- ``pipeline.py`` the Spark extraction DAG (explode → preprocess →
  detect → order → crop → recognize → reassemble).
- ``functions/``  large-scale training-data ops: dedup (exact /
  minhash-LSH / simhash / n-gram jaccard), ANN similarity search,
  text analysis (lang-id, quality, tokens, fingerprint).
- ``local_ref.py`` pure-Python single-process reference pipeline used
  to compute golden span sequences.
"""

__version__ = "0.1.0"

from . import _pyworker  # noqa: E402,F401
