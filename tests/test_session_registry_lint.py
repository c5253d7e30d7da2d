"""Sessions have ONE factory and ONE memoize/release mechanism, both in
bioio_spark/session.py: ``get_session`` (the engine defaults, the Python
worker daemon among them) and the registry (memo, hold, release, stats).
This stdlib-only scan fails if library code, bench.py or tools/ grows a
second one — a ``SparkSession.builder`` of its own (a harness that
would run without those defaults), a hand-rolled ``_bioio_*`` attribute
on the session, or a registry keyed by ``id(spark)`` (a recycled id
hands stale frames to an unrelated session)."""

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FORBIDDEN = ('__dict__.setdefault("_bioio_', '__dict__.get("_bioio_',
             "id(spark)", "SparkSession.builder")


def _sources():
    """bench.py and every module under bioio_spark/ and tools/ except
    bioio_spark/session.py."""
    yield os.path.join(ROOT, "bench.py")
    for top in ("bioio_spark", "tools"):
        for d, _dirs, files in os.walk(os.path.join(ROOT, top)):
            for f in sorted(files):
                path = os.path.join(d, f)
                if f.endswith(".py") and os.path.relpath(path, ROOT) != \
                        os.path.join("bioio_spark", "session.py"):
                    yield path


def _violations(paths):
    hits = []
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for n, line in enumerate(fh, 1):
                hits += [f"{path}:{n}: {pat}" for pat in FORBIDDEN
                         if pat in line]
    return hits


def test_session_state_goes_through_the_registry():
    sources = list(_sources())
    assert len(sources) > 50   # the walk really reached the package
    assert os.path.join(ROOT, "tools", "scale_probe.py") in sources
    hits = _violations(sources)
    assert hits == [], "session state outside session.py:\n" + \
        "\n".join(hits)


def test_scan_catches_a_hand_rolled_memo(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text('cache = spark.__dict__.setdefault("_bioio_x", {})\n'
                   "other = REG.setdefault(id(spark), [])\n")
    assert len(_violations([str(bad)])) == 2


def test_scan_catches_a_second_session_builder(tmp_path):
    bad = tmp_path / "harness.py"
    bad.write_text("spark = (SparkSession.builder.master('local[2]')\n"
                   "         .getOrCreate())\n")
    assert _violations([str(bad)]) == [
        f"{bad}:1: SparkSession.builder"]
