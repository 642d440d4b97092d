"""The sf0.001 root that the entry() smoke query reads is derived
from $SPARK_GRAFT_SF_DIR; a relative or missing derivation falls back
to the sibling of the default testdata root."""

from __future__ import annotations

import os
import subprocess
import sys

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.registry import (
    _shared as S,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_sf001_root_derivation(tmp_path, sf_dir):
    (tmp_path / "sf0.1").mkdir()
    (tmp_path / "sf0.001").mkdir()
    assert S.sf001_root(str(tmp_path / "sf0.1")) == str(tmp_path / "sf0.001")
    assert S.sf001_root(str(tmp_path / "sf0.1") + "/") == str(tmp_path / "sf0.001")
    # relative value: no parent directory to take a sibling of
    assert S.sf001_root("sf0.1") == sf_dir
    assert S.sf001_root("./sf0.1/") == sf_dir
    # absolute value whose sibling does not exist
    assert S.sf001_root(str(tmp_path / "elsewhere" / "sf0.1")) == sf_dir


def test_relative_env_value_keeps_entry_root(sf_dir):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="sf0.1")
    out = subprocess.run(
        [sys.executable, "-c",
         "from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark"
         ".registry._shared import SF001; print(SF001)"],
        cwd=REPO, env=env, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == sf_dir
    assert os.path.isdir(out.stdout.strip())
