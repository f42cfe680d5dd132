"""spark-submit --py-files deployment surface (north rule: the job ships
as a zip via spark-submit; no repo checkout on the cluster).

Runs the real `spark-submit` binary from a scratch cwd with the repo
stripped from PYTHONPATH, so `import hydra_spark` can only resolve from
the shipped dist/hydra_spark.zip.
"""

import json
import os
import pathlib
import shutil
import subprocess
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent

pytestmark = pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)


def test_package_zip_is_deterministic(tmp_path):
    sys.path.insert(0, str(ROOT / "scripts"))
    try:
        import package
    finally:
        sys.path.pop(0)
    a = package.build(tmp_path / "a.zip")
    b = package.build(tmp_path / "b.zip")
    assert a.read_bytes() == b.read_bytes()
    assert any(n.endswith("hydra_spark/crawl/round.py") for n in
               __import__("zipfile").ZipFile(a).namelist())


def test_spark_submit_py_files_crawl(tmp_path):
    zip_path = tmp_path / "hydra_spark.zip"
    subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "package.py"), str(zip_path)],
        check=True, capture_output=True,
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    store = tmp_path / "store"
    res = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zip_path),
            str(ROOT / "jobs" / "hydra.py"), "crawl",
            "--pages", "600", "--hosts", "12",
            "--rounds", "2", "--batch-size", "200",
            "--store", str(store),
        ],
        cwd=tmp_path,  # scratch cwd: hydra_spark NOT importable from here
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    lines = [json.loads(l) for l in res.stdout.splitlines() if l.startswith("{")]
    summary = [l for l in lines if l.get("summary")]
    assert summary, res.stdout
    s = summary[0]
    assert s["rounds_run"] == 2
    assert s["n_checked_total"] == 400  # 2 rounds x batch_size
    assert s["checks_rows"] == 400
    assert s["last_round"] == 2


def _submit(tmp_path, zip_path, script, extra_args):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    res = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", str(zip_path), str(ROOT / "jobs" / "hydra.py"), script, *extra_args],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=420,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    return [json.loads(l) for l in res.stdout.splitlines() if l.startswith("{")]


def test_spark_submit_load_catalog_and_analyse(tmp_path):
    zip_path = tmp_path / "hydra_spark.zip"
    subprocess.run([sys.executable, str(ROOT / "scripts" / "package.py"), str(zip_path)],
                   check=True, capture_output=True)
    catalog = tmp_path / "catalog.csv"
    catalog.write_text(
        "dataset.id;id;url;type;format;harvest.modified_at;title;dataset.archived\n"
        "d1;r1;http://a.example.com/1.csv;main;csv;;one;False\n"
        "d1;r2;http://a.example.com/2.csv;main;csv;;two;False\n"
    )
    store = tmp_path / "store"
    out = _submit(tmp_path, zip_path, "load-catalog",
                  ["--catalog", str(catalog), "--store", str(store)])
    s = [l for l in out if l.get("summary")][0]
    assert s["frontier_rows"] == 2 and s["deleted_rows"] == 0

    # second export drops r2 -> soft delete via the MERGE path
    catalog.write_text(
        "dataset.id;id;url;type;format;harvest.modified_at;title;dataset.archived\n"
        "d1;r1;http://a.example.com/1.csv;main;csv;;one-renamed;False\n"
    )
    out = _submit(tmp_path, zip_path, "load-catalog",
                  ["--catalog", str(catalog), "--store", str(store)])
    s = [l for l in out if l.get("summary")][0]
    assert s["frontier_rows"] == 2 and s["deleted_rows"] == 1

    csvf = tmp_path / "data.csv"
    csvf.write_text("code,count,label\n01,2,a\n02,3,b\n")
    out = _submit(tmp_path, zip_path, "analyse-csv",
                  ["--input", str(csvf), "--store", str(store)])
    s = [l for l in out if l.get("summary")][0]
    assert s["rows_parsed"] == 2 and s["parsing_error"] is None
    assert s["inspection"]["separator"] == ","


def test_spark_submit_csv_sample_and_download_resource(tmp_path, spark):
    """`csv-sample` (reference cli/db.py:15-101) and
    `download-resource` (reference cli/crawl.py:40-74) over a
    crawled store + its pages corpus parquet."""
    import csv as csvmod

    from hydra_spark.datagen import generate_pages

    zip_path = tmp_path / "hydra_spark.zip"
    subprocess.run([sys.executable, str(ROOT / "scripts" / "package.py"), str(zip_path)],
                   check=True, capture_output=True)
    pages_pq = tmp_path / "pages.parquet"
    generate_pages(spark, 600, n_hosts=12).write.parquet(str(pages_pq))
    store = tmp_path / "store"
    _submit(tmp_path, zip_path, "crawl",
            ["--pages-parquet", str(pages_pq), "--rounds", "2",
             "--batch-size", "200", "--store", str(store)])

    out_dir = tmp_path / "data"
    out = _submit(tmp_path, zip_path, "csv-sample",
                  ["--store", str(store), "--size", "10", "--download",
                   "--pages-parquet", str(pages_pq), "--out-dir", str(out_dir)])
    s = [l for l in out if l.get("summary")][0]
    assert s["sampled"] > 0 and s["downloaded"] > 0
    with open(s["index"]) as f:
        rows = list(csvmod.DictReader(f))
    assert len(rows) == s["sampled"]
    assert {"resource_id", "dataset_id", "url", "content_type",
            "content_length", "filename", "magic_mime", "real_size"} <= set(rows[0])
    for r in rows:
        assert os.path.getsize(r["filename"]) == int(r["real_size"])
        assert "csv" in r["magic_mime"] or r["magic_mime"] == "application/gzip"

    # download one sampled resource by id
    rid = rows[0]["resource_id"]
    dl_dir = tmp_path / "dl"
    out = _submit(tmp_path, zip_path, "download-resource",
                  ["--resource-id", rid, "--store", str(store),
                   "--pages-parquet", str(pages_pq), "--output-dir", str(dl_dir)])
    s = [l for l in out if l.get("summary")][0]
    assert s["resource_id"] == rid and s["found_body"] and s["n_bytes"] > 0
    assert os.path.getsize(s["output"]) == s["n_bytes"]

    # unknown resource: error summary + exit code 1 (reference logs error)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    res = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--py-files", str(zip_path), str(ROOT / "jobs" / "hydra.py"), "download-resource",
         "--resource-id", "nope", "--store", str(store),
         "--pages-parquet", str(pages_pq)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=420,
    )
    assert res.returncode == 1
    assert "not found in catalog" in res.stdout


def test_spark_submit_discovery_crawl(tmp_path):
    """Discovery mode under real spark-submit: linked corpus, 10% seed,
    frontier grows and discovered URLs are claimed in later rounds."""
    zip_path = tmp_path / "hydra_spark.zip"
    subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "package.py"), str(zip_path)],
        check=True, capture_output=True,
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    res = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zip_path),
            str(ROOT / "jobs" / "hydra.py"), "crawl",
            "--pages", "400", "--hosts", "10",
            "--rounds", "4", "--batch-size", "400",
            "--linked-corpus", "--discover-links", "--seed-every", "10",
            "--store", str(tmp_path / "store"),
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    lines = [json.loads(l) for l in res.stdout.splitlines() if l.startswith("{")]
    rounds = [l for l in lines if "n_discovered" in l]
    assert rounds and rounds[0]["n_discovered"] > 0
    total_checked = sum(r["n_checked"] for r in rounds)
    assert total_checked > 40  # grew well beyond the 40-page seed


def test_spark_submit_insert_resource_and_url(tmp_path):
    """`insert-resource-into-catalog` + `insert-url-into-catalog` (reference
    cli/catalog.py:115-219): single-row catalog upserts via
    spark-submit against a shared store."""
    zip_path = tmp_path / "hydra_spark.zip"
    subprocess.run([sys.executable, str(ROOT / "scripts" / "package.py"), str(zip_path)],
                   check=True, capture_output=True)
    store = tmp_path / "store"
    out = _submit(tmp_path, zip_path, "insert-resource-into-catalog",
                  ["--store", str(store), "--resource-id", "r1",
                   "--url", "http://a.example.com/1.csv",
                   "--dataset-id", "d1", "--title", "one"])
    s = [l for l in out if l.get("summary")][0]
    assert s["action"] == "insert" and s["resource_id"] == "r1"

    # same id again → update branch; url refreshed
    out = _submit(tmp_path, zip_path, "insert-resource-into-catalog",
                  ["--store", str(store), "--resource-id", "r1",
                   "--url", "http://a.example.com/1-v2.csv"])
    s = [l for l in out if l.get("summary")][0]
    assert s["action"] == "update"

    out = _submit(tmp_path, zip_path, "insert-url-into-catalog",
                  ["--store", str(store), "--url", "http://ext.org/data.csv",
                   "--resource-id", "rext"])
    s = [l for l in out if l.get("summary")][0]
    assert s["action"] == "insert"
