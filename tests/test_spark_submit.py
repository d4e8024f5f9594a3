"""The north_star launch path: spark-submit --py-files with the packaged
library, checkpointed, resumable via plain re-submit."""

import importlib.util
import json
import pathlib
import subprocess
import zipfile

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent


@pytest.mark.parametrize(
    "job, sources",
    [
        ("run_pipeline_job", ["--input", "p", "--input-warc", "g"]),
        ("run_pipeline_job", ["--synthesize", "3", "--input-warc", "g"]),
        ("run_pipeline_job", ["--input", "p", "--synthesize", "3"]),
        ("run_curation_job", ["--input", "p", "--synthesize", "3"]),
    ],
)
def test_job_rejects_two_input_sources(job, sources, monkeypatch):
    """Each job takes exactly one input source: two are a usage error
    raised by argparse before any session starts, never one source
    silently overriding the other."""
    from deidentify_spark import runtime

    def no_session(*args, **kwargs):
        raise AssertionError("a session started")

    monkeypatch.setattr(runtime, "session_builder", no_session)
    spec = importlib.util.spec_from_file_location(job, ROOT / "jobs" / f"{job}.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    with pytest.raises(SystemExit):
        module.main([*sources, "--output", "o", "--secret-key", "k"])


def test_spark_submit_pipeline_and_resume(tmp_path):
    pkg_zip = tmp_path / "deidentify_spark.zip"
    with zipfile.ZipFile(pkg_zip, "w") as zf:
        for f in (ROOT / "deidentify_spark").rglob("*.py"):
            zf.write(f, f.relative_to(ROOT))
    out_dir = tmp_path / "out"

    def submit():
        r = subprocess.run(
            [
                "spark-submit",
                "--master", "local[4]",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--py-files", str(pkg_zip),
                str(ROOT / "jobs" / "run_pipeline_job.py"),
                "--synthesize", "400",
                "--output", str(out_dir),
                "--secret-key", "test-secret-key",
                "--n-waves", "4",
            ],
            capture_output=True,
            text=True,
            timeout=400,
            cwd=str(tmp_path),  # NOT the repo root: --py-files must carry the pkg
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads(r.stdout.strip().splitlines()[-1])

    s1 = submit()
    assert s1["status"] == "ok" and s1["docs_out"] == 400
    s2 = submit()  # plain re-submit resumes: everything already done
    assert s2["docs_out"] == 400
    assert s2["seconds"] < s1["seconds"]


def test_spark_submit_curation_chain(tmp_path):
    """The composed curation job: filter -> exact dedup -> fuzzy dedup
    -> DSIR select -> shard write, one spark-submit. Pins the stage
    monotonicity (counts can only shrink), the select-frac contract,
    and that the shard output is complete and re-runnable
    deterministically (same shards byte-for-byte is covered by the
    operator tests; here: same counts + same selected ids)."""
    pkg_zip = tmp_path / "deidentify_spark.zip"
    with zipfile.ZipFile(pkg_zip, "w") as zf:
        for f in (ROOT / "deidentify_spark").rglob("*.py"):
            zf.write(f, f.relative_to(ROOT))

    def submit(out_dir, *extra):
        r = subprocess.run(
            [
                "spark-submit",
                "--master", "local[4]",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--py-files", str(pkg_zip),
                str(ROOT / "jobs" / "run_curation_job.py"),
                "--synthesize", "2000",
                "--output", str(out_dir),
                "--secret-key", "test-secret-key",
                "--select-frac", "0.5",
                "--n-shards", "8",
                *extra,
            ],
            capture_output=True,
            text=True,
            timeout=400,
            cwd=str(tmp_path),
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads(r.stdout.strip().splitlines()[-1])

    s = submit(tmp_path / "out1")
    assert s["n_input"] >= s["n_after_exact"] >= s["n_after_fuzzy"] >= s["n_selected"]
    assert s["n_selected"] == max(1, int(s["n_after_fuzzy"] * 0.5))
    # shard output readable and complete
    import duckdb

    n = duckdb.sql(
        f"SELECT COUNT(*), COUNT(DISTINCT shard) FROM "
        f"read_parquet('{tmp_path}/out1/shards/*/*.parquet', hive_partitioning=1)"
    ).fetchone()
    assert n[0] == s["n_selected"] and n[1] <= 8
    # determinism: a fresh run reproduces the same counts
    s2 = submit(tmp_path / "out2")
    assert (s2["n_after_fuzzy"], s2["n_selected"]) == (
        s["n_after_fuzzy"], s["n_selected"]
    )
    # resume contract: re-submit to the SAME output is a no-op — every
    # stage reports resumed:true off its committed manifest, counts
    # identical, and the shard output is untouched
    s3 = submit(tmp_path / "out1")
    assert all(st.get("resumed") for st in s3["stages"].values()), s3
    assert (s3["n_input"], s3["n_after_fuzzy"], s3["n_selected"]) == (
        s["n_input"], s["n_after_fuzzy"], s["n_selected"]
    )
    # opt-in tokenize stage ONTO the finished run: upstream stages all
    # resume, only tokenize computes; tokens/ covers every selected doc
    # and the learned merge table is committed in the stage manifest
    s4 = submit(tmp_path / "out1", "--tokenize", "6")
    assert s4["stages"]["tokenize"]["docs"] == s["n_selected"], s4
    assert s4["stages"]["tokenize"]["merges"] == 6
    assert s4["stages"]["dsir_select"].get("resumed"), s4
    n_tok = duckdb.sql(
        f"SELECT COUNT(*), SUM(len(bpe_tokens)) FROM "
        f"read_parquet('{tmp_path}/out1/tokens/*/*.parquet', hive_partitioning=1)"
    ).fetchone()
    assert n_tok[0] == s["n_selected"]
    assert n_tok[1] == s4["stages"]["tokenize"]["subwords"] > 0
    # opt-in quality-aware canonical + language-mixture rebalancing:
    # --keep-best changes WHICH cluster member survives (same fuzzy
    # count as the min-id run — one survivor per cluster either way);
    # --mixture whitelists lang_pred strata and Bernoulli-samples to
    # the char budget, so the pool shrinks between fuzzy and DSIR
    s5 = submit(
        tmp_path / "out3",
        "--keep-best",
        "--mixture", "en=1.0",
        "--mixture-budget", "150000",
    )
    assert s5["n_after_fuzzy"] == s["n_after_fuzzy"], (
        s5["n_after_fuzzy"], s["n_after_fuzzy"],
    )
    # (mass-shrink behavior is unit-tested in test_curation; the tiny
    # post-fuzzy pool here sits under the char budget, so rate caps
    # at 1 — the submit check is the plumbing + lineage + select base)
    n_mix = s5["stages"]["mixture_rebalance"]["docs"]
    assert 0 < n_mix <= s5["n_after_fuzzy"]
    assert s5["n_selected"] == max(1, int(n_mix * 0.5))
    manifest = json.loads(
        (tmp_path / "out1" / "tokens" / "_manifest.json").read_text()
    )
    assert len(manifest["merge_table"]) == 6
    # and a further re-submit resumes the tokenize stage too
    s5 = submit(tmp_path / "out1", "--tokenize", "6")
    assert s5["stages"]["tokenize"].get("resumed"), s5
