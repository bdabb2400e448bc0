"""Record the front door's translations during a test run, then replay
them on another tree.

Record, as a pytest plugin (the hook wraps
`frontend.presto_to_spark_sql` before any test module binds it):

    PYTHONPATH=tools python -m pytest tests/ -p translation_corpus \
        --translation-corpus=corpus.json

corpus.json is a JSON list of {"sql": input, "out": translation} or
{"sql": input, "raises": exception type name}, one per distinct input.

Replay on the current tree:

    python tools/translation_corpus.py check corpus.json

prints every input whose translation or exception type differs, then a
count line, and exits 1 if any differs. Replay starts a local
SparkContext first: the scalar templates import functions/udfs.py,
whose pandas_udf decorators parse DDL through the JVM.

Compare two recorded corpora:

    python tools/translation_corpus.py diff old.json new.json

prints every input recorded in only one of them and every input whose
recorded result differs, then a count line, and exits 1 if there are
any. `check` replays only the old corpus's inputs, so it cannot see an
input that a change upstream of the translation (the run_sql column
annotation, say) hands to presto_to_spark_sql for the first time;
`diff` does.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RECORDED: dict[str, dict] = {}


def pytest_addoption(parser):
    parser.addoption("--translation-corpus", metavar="FILE",
                     help="write every front-door translation to FILE")


def pytest_configure(config):
    path = config.getoption("--translation-corpus")
    if not path:
        return
    config._translation_corpus = path
    from presto_0_235_spark.sql import frontend

    inner = frontend.presto_to_spark_sql

    def recording(sql):
        try:
            out = inner(sql)
        except Exception as exc:
            _RECORDED.setdefault(
                sql, {"sql": sql, "raises": type(exc).__name__})
            raise
        _RECORDED.setdefault(sql, {"sql": sql, "out": out})
        return out

    recording.cache_info = inner.cache_info
    recording.cache_clear = inner.cache_clear
    frontend.presto_to_spark_sql = recording


def pytest_unconfigure(config):
    path = getattr(config, "_translation_corpus", None)
    if path:
        with open(path, "w") as f:
            json.dump([_RECORDED[k] for k in sorted(_RECORDED)], f,
                      indent=0)


def check(path: str) -> int:
    sys.path.insert(0, REPO)
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false")
             .appName("translation-corpus").getOrCreate())
    try:
        from presto_0_235_spark.sql.frontend import presto_to_spark_sql

        with open(path) as f:
            corpus = json.load(f)
        differ = 0
        for rec in corpus:
            sql = rec["sql"]
            try:
                now = {"sql": sql, "out": presto_to_spark_sql(sql)}
            except Exception as exc:  # the exception type is the fact
                now = {"sql": sql, "raises": type(exc).__name__}
            if now != rec:
                differ += 1
                print(f"--- input\n{sql}\n--- recorded\n"
                      f"{rec.get('out', rec.get('raises'))}\n--- now\n"
                      f"{now.get('out', now.get('raises'))}\n")
    finally:
        spark.stop()
    translated = sum("out" in r for r in corpus)
    print(f"{len(corpus)} inputs ({translated} translated, "
          f"{len(corpus) - translated} rejected): {differ} differ")
    return 1 if differ else 0


def _result(rec: dict) -> str:
    return rec.get("out", rec.get("raises"))


def diff(old_path: str, new_path: str) -> int:
    corpora = []
    for path in (old_path, new_path):
        with open(path) as f:
            corpora.append({r["sql"]: r for r in json.load(f)})
    old, new = corpora
    only_old = sorted(old.keys() - new.keys())
    only_new = sorted(new.keys() - old.keys())
    changed = sorted(k for k in old.keys() & new.keys() if old[k] != new[k])
    for label, keys in (("only in old", only_old),
                        ("only in new", only_new)):
        for sql in keys:
            rec = old.get(sql) or new[sql]
            print(f"--- {label}\n{sql}\n--- result\n{_result(rec)}\n")
    for sql in changed:
        print(f"--- input\n{sql}\n--- old\n{_result(old[sql])}\n"
              f"--- new\n{_result(new[sql])}\n")
    print(f"{len(only_old)} only in old, {len(only_new)} only in new, "
          f"{len(changed)} differ")
    return 1 if only_old or only_new or changed else 0


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "check":
        sys.exit(check(sys.argv[2]))
    if len(sys.argv) == 4 and sys.argv[1] == "diff":
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    sys.exit("usage: translation_corpus.py check FILE | diff OLD NEW")
