"""Session ownership: one builder for every entry point, and library code
that leaves a caller's session confs exactly as it found them. Plus two
reference scans: no library surface that only tests reach, and no
option that no caller sets."""

import ast
import pathlib
import re
import subprocess

ROOT = pathlib.Path(__file__).resolve().parent.parent
# the frozen bench and the benchmark harness keep their own builders
BUILDER_OWNERS = {"deidentify_spark/runtime.py", "bench.py", "perfbench/run.py"}
SESSION_CONFS = (
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
    "spark.sql.sources.partitionOverwriteMode",
)


def _python_sources() -> list[str]:
    r = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True, text=True
    )
    if r.returncode == 0:
        return r.stdout.split()
    # not a git checkout: every .py outside hidden and scratch dirs
    return [
        str(p.relative_to(ROOT))
        for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    ]


def test_session_builder_is_the_only_builder():
    needle = "SparkSession" + ".builder"
    offenders = [
        path
        for path in _python_sources()
        if path not in BUILDER_OWNERS
        and needle in (ROOT / path).read_text(encoding="utf-8")
    ]
    assert offenders == [], (
        f"build sessions with deidentify_spark.runtime.session_builder: {offenders}"
    )


# Top-level definitions in deidentify_spark/ that only tests reach, each
# kept on purpose. Anything else that no code outside tests/ names is
# surface nothing runs: delete it, or give it a reason here.
TEST_ONLY_ALLOWED = {
    "_ngram_jaccard_pairs_textbook": "textbook twin of ngram_jaccard_pairs",
    "embedding_near_dup_pairs": "exact (cartesian) twin of embedding_near_dup_pairs_lsh",
    "simhash_py": "scalar twin of simhash_batch",
    "simhash_candidates": "SimHash quadrant banding, checked for pigeonhole recall",
    "quality_drop_reason": "scalar twin of the fused quality rules (ROADMAP direction 5)",
    "_sparse_counts": "hashed n-gram counts a langid test rebuilds scores from",
    "byte_histogram_features": "scalar twin of decode_assets' batched histogram",
    "bloom_fp_estimate": "analytic bound the Bloom filter's measured FP rate is held to",
    "nfc_py": "scalar twin of the NFC normalization column",
    "is_valid_ipv4": "checks that the IP extension's fakes are valid IPv4",
    "deidentify_csv": "the reference's Slices workflow (SURVEY 1.1)",
    "zorder_repartition": "the layout operator its data-skipping test exercises",
}


def _names_used(tree) -> set[str]:
    """Every name a module uses: Name ids, attribute names and imported
    names. A top-level definition's use of its own name (recursion) does
    not count, and neither does the module's own ``__all__``: listing a
    name for export is not a use of it."""
    used = set()
    for stmt in tree.body:
        own = getattr(stmt, "name", None)
        for node in ast.walk(stmt):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            else:
                continue
            if name != own:
                used.add(name)
    return used


def test_no_test_only_surface():
    """Every top-level function and class in deidentify_spark/ is named
    by some code outside tests/ (jobs, queries, benchmarks, scripts, or
    the package itself), or is allowlisted above with its reason."""
    defined, used = set(), set()
    for path in _python_sources():
        if path.startswith("tests/"):
            continue
        tree = ast.parse((ROOT / path).read_text(encoding="utf-8"))
        if path.startswith("deidentify_spark/"):
            defined.update(
                stmt.name
                for stmt in tree.body
                if isinstance(
                    stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
            )
        used |= _names_used(tree)
    test_only = defined - used
    assert test_only - TEST_ONLY_ALLOWED.keys() == set(), (
        "only tests reach these: delete them or allowlist them with a reason"
    )
    assert TEST_ONLY_ALLOWED.keys() - test_only == set(), (
        "allowlisted but no longer test-only (or gone): drop from the allowlist"
    )


# Column-name bindings say where an operator reads or writes (a column,
# a column-name prefix, an edge endpoint), not what it computes: a caller
# whose columns carry the default names sets none of them.
COLUMN_BINDING = re.compile(r"\w+_cols?|cols|columns|src|dst|out|out_prefix")
# Defaulted parameters that no call site sets, each kept on purpose.
UNSET_OPTION_ALLOWED = {
    ("line_dedup", "line_sep"): "the text's line delimiter, a format binding",
    ("within_doc_line_dedup", "line_sep"): "the text's line delimiter, a format binding",
}


def _defaulted_params(fn) -> list[tuple[int | None, str]]:
    """(position or None for keyword-only, name) of each defaulted
    parameter of a function definition."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(i, p.arg) for i, p in enumerate(pos) if i >= first]
    out += [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def test_no_unset_options():
    """Every defaulted parameter of a top-level function in
    deidentify_spark/ is set, by keyword or by position, at some call
    site in the repository, tests included. A value no caller varies is
    a module constant, not an option. Calls are matched by the callee's
    bare name (a same-named method can only make a parameter look set),
    and a call with ``*args`` or ``**kwargs`` counts as setting every
    parameter it could reach."""
    defs = []
    n_pos: dict[str, int] = {}
    keywords: dict[str, set[str]] = {}
    for path in _python_sources():
        tree = ast.parse((ROOT / path).read_text(encoding="utf-8"))
        if path.startswith("deidentify_spark/"):
            defs += [
                stmt
                for stmt in tree.body
                if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            if name is None:
                continue
            starred = any(isinstance(x, ast.Starred) for x in node.args)
            n_pos[name] = max(
                n_pos.get(name, 0), float("inf") if starred else len(node.args)
            )
            kws = keywords.setdefault(name, set())
            for k in node.keywords:
                kws.add(k.arg if k.arg is not None else "**")
    unset = {
        (fn.name, p)
        for fn in defs
        for i, p in _defaulted_params(fn)
        if not COLUMN_BINDING.fullmatch(p)
        and not (i is not None and i < n_pos.get(fn.name, 0))
        and not {p, "**"} & keywords.get(fn.name, set())
    }
    missing = sorted(unset - UNSET_OPTION_ALLOWED.keys())
    assert missing == [], (
        f"{len(missing)} defaulted parameters in "
        f"{len({f for f, _ in missing})} signatures that no caller sets: "
        f"make each a module constant, or allowlist it with a reason: {missing}"
    )
    assert UNSET_OPTION_ALLOWED.keys() - unset == set(), (
        "allowlisted but now set by a caller (or gone): drop from the allowlist"
    )


def test_operators_leave_session_confs_alone(spark, tmp_path):
    from deidentify_spark.operators.classifier import logreg_train
    from deidentify_spark.pipeline.checkpoint import run_checkpointed
    from deidentify_spark.pipeline.stages import PipelineConfig
    from deidentify_spark.runtime import release_tracked, tracked_persist
    from deidentify_spark.sources.pages import generate_pages

    s = spark.newSession()
    for k in SESSION_CONFS:
        s.conf.unset(k)
    before = {k: s.conf.get(k) for k in SESSION_CONFS}

    tracked_persist(s.range(10)).count()
    release_tracked()
    docs = s.createDataFrame(
        [(i, f"good clean words {i}" if i % 2 else f"spam spam buy {i}", i % 2)
         for i in range(40)],
        "doc_id long, text string, y int",
    )
    logreg_train(docs, "y", n_buckets=64, n_iters=2)
    pages = generate_pages(s, 40, seed=3, partitions=2)
    run_checkpointed(
        pages, str(tmp_path / "run"), PipelineConfig(secret_key="k", n_buckets=4),
        n_waves=2,
    )

    assert {k: s.conf.get(k) for k in SESSION_CONFS} == before