"""Deployment-path pin: engine.zip really works via spark-submit --py-files.

The reference ships as an installed package inside an Airflow worker image
(`/root/reference/setup.py`, Docker entrypoint); our cluster analog is
`spark-submit --py-files engine.zip job.py` (SURVEY.md §7 M7). The unit
suite can't catch a packaging break — tests import the repo checkout
straight off PYTHONPATH — so this test runs a real spark-submit in a
scrubbed environment (no repo on PYTHONPATH, cwd outside the repo) and
asserts the job imports the package FROM THE ZIP, parses a zip-of-XML
through ``read_zip_entities`` (its ``mapInPandas`` UDF calls the
module-level ``parse_zip_bytes``, which cloudpickle pickles by reference,
so Python workers must zipimport the package too), and commits a merge.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from data_hub_ejp_xml_pipeline_spark.sources.xml_zip import parse_zip_bytes
from tests.test_xml_zip import GO_XML, MANUSCRIPT_XML, PERSONS_XML, make_zip

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = '''\
import json, sys

import data_hub_ejp_xml_pipeline_spark as pkg
# prove we are running off the zip, not a checkout
assert "engine.zip" in (pkg.__file__ or ""), pkg.__file__

from data_hub_ejp_xml_pipeline_spark.generator import generate_changelog_df
from data_hub_ejp_xml_pipeline_spark.plans.pipeline import MergePipeline
from data_hub_ejp_xml_pipeline_spark.session import get_spark
from data_hub_ejp_xml_pipeline_spark.sources.xml_zip import read_zip_entities

table_root, zip_dir = sys.argv[1], sys.argv[2]
spark = get_spark(app_name="submit-e2e", master="local[4]",
                  shuffle_partitions=8)
# the parse UDF calls parse_zip_bytes by module reference: Python
# workers must import it from the zip
n_entities = read_zip_entities(spark, zip_dir).count()
chg = generate_changelog_df(spark, 20000, events_per_file=20000)
pipe = MergePipeline(spark, table_root, n_buckets=4)
res = pipe.apply(chg, batch_id=1)
n = pipe.final_state().count()
print("SUBMITRESULT " + json.dumps({"final_rows": n,
                                    "merged_rows": res.rows_written,
                                    "zip_entities": n_entities}))
spark.stop()
'''


def test_engine_zip_runs_via_spark_submit(tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pytest

        pytest.skip("spark-submit not on PATH")

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        import package as packager
    finally:
        sys.path.pop(0)
    zip_path = packager.build(str(tmp_path / "engine.zip"))

    job_path = tmp_path / "job.py"
    job_path.write_text(JOB)
    table_root = tmp_path / "table"
    zip_dir = tmp_path / "zips"
    zip_dir.mkdir()
    zip_bytes = make_zip(
        {"go.xml": GO_XML, "people.xml": PERSONS_XML, "ms.xml": MANUSCRIPT_XML}
    )
    (zip_dir / "batch.zip").write_bytes(zip_bytes)
    n_entities = len(list(parse_zip_bytes(zip_bytes, "batch.zip")))

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the ONLY package source
    env["SPARK_GRAFT_CPUS"] = "4"
    proc = subprocess.run(
        [spark_submit, "--py-files", zip_path, str(job_path), str(table_root),
         str(zip_dir)],
        cwd=str(tmp_path),  # repo checkout not importable from cwd either
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    lines = [l for l in proc.stdout.splitlines() if l.startswith("SUBMITRESULT ")]
    assert lines, proc.stdout[-2000:]
    result = json.loads(lines[-1][len("SUBMITRESULT "):])
    assert result["final_rows"] > 0
    assert result["merged_rows"] > 0
    assert n_entities > 0
    assert result["zip_entities"] == n_entities
