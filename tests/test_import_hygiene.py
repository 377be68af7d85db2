"""Worker-import hygiene: the modules that define Arrow / pandas kernels
are unpickled by module on every Python worker, so importing one must
not drag in MLlib. A package-level import in ``operators/__init__.py``
runs on every such unpickle; this test keeps that fan-out from coming
back."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]

KERNEL_MODULES = [
    *(
        f"sentiment_analysis_bigdata_spark.operators.{m}"
        for m in (
            "clustering", "dedup", "multimodal", "normalize", "packing", "pca",
            "pq", "regression", "similarity", "sketches", "tokenizer_train",
            "tokenizer_unigram",
        )
    ),
    "sentiment_analysis_bigdata_spark.streaming.stateful",
]

_PROBE = """
import importlib, sys
for name in sys.argv[1:]:
    importlib.import_module(name)
    ml = sorted(m for m in sys.modules if m == "pyspark.ml" or m.startswith("pyspark.ml."))
    if ml:
        sys.exit(f"importing {name} loaded {ml[:3]}")
"""


def test_kernel_modules_do_not_import_pyspark_ml():
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(filter(None, [str(REPO), os.environ.get("PYTHONPATH")]))}
    res = subprocess.run(
        [sys.executable, "-c", _PROBE, *KERNEL_MODULES],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr[-2000:]
