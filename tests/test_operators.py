"""Per-operator unit tests on crafted inputs — the reference's
per-function test layer (AbstractTestFunctions, per-operator tests in
presto-main/src/test/.../operator/; SURVEY.md §5.4): exact values on
edge cases the fixture queries don't reach (empty text, single token,
identical/disjoint inputs, known hash values).
"""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F

from presto_0_235_spark.functions.scalar import mysql_to_java_pattern
from presto_0_235_spark.operators import dedup as dd
from presto_0_235_spark.operators import similarity as sim
from presto_0_235_spark.operators import text as tx
from tests.conftest import jobs_submitted, tasks_of


def test_shingles_edge_cases(spark):
    df = spark.createDataFrame(
        [("",), ("one",), ("a b",), ("a b c",), ("a b c d",)], "text string"
    )
    rows = df.select(
        "text", F.size(dd.word_shingles("text")).alias("n")
    ).collect()
    got = {r.text: r.n for r in rows}
    # Short texts yield the single clamped window; 3-grams slide after.
    assert got[""] == 1 and got["one"] == 1 and got["a b"] == 1
    assert got["a b c"] == 1
    assert got["a b c d"] == 2


def test_jaccard_bounds(spark):
    df = spark.createDataFrame([(["a", "b"], ["a", "b"], ["c", "d"])],
                               "x array<string>, y array<string>, z array<string>")
    row = df.select(
        dd.jaccard(F.col("x"), F.col("y")).alias("same"),
        dd.jaccard(F.col("x"), F.col("z")).alias("disjoint"),
    ).collect()[0]
    assert row.same == 1.0
    assert row.disjoint == 0.0


def test_minhash_identical_texts_identical_signatures(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "a completely different doc here")],
        "id long, text string",
    )
    sigs = df.select(
        "id", dd.minhash_signature(dd.word_shingles("text")).alias("sig")
    ).collect()
    by_id = {r.id: r.sig for r in sigs}
    assert len(by_id[1]) == dd.MINHASH_K
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]


def test_simhash_identical_zero_hamming(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
         (3, "delta epsilon zeta eta")],
        "id long, text string",
    )
    fps = df.select(
        "id",
        dd.simhash(
            F.transform(tx.ws_tokens("text"), dd._token_hash32)
        ).alias("fp"),
    ).collect()
    by_id = {r.id: r.fp for r in fps}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]
    assert 0 <= by_id[1] < (1 << dd.SIMHASH_BITS)


def test_cosine_self_is_one(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [2.0, 4.0, 6.0], [-1.0, 0.0, 0.0])],
        "a array<double>, b array<double>, c array<double>",
    )
    row = df.select(
        F.round(sim.cosine(F.col("a"), F.col("a")), 9).alias("self"),
        F.round(sim.cosine(F.col("a"), F.col("b")), 9).alias("colinear"),
        F.round(sim.cosine(F.col("a"), F.col("c")), 9).alias("neg"),
    ).collect()[0]
    assert row.self == 1.0
    assert row.colinear == 1.0
    assert row.neg < 0


def test_rolling_fingerprint_known_value(spark):
    text = "abc"
    expected = 7
    for ch in text:
        expected = (expected * tx.FP_BASE + ord(ch)) % tx.FP_MOD
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(tx.rolling_fingerprint("t").alias("fp")).collect()[0].fp
    assert got == expected


def test_lang_id_stopword_evidence(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat of the mat and a dog"),
         (2, "der hund ist ein gutes tier und der beste"),
         (3, "zzz qqq xxx")],
        "id long, text string",
    )
    rows = df.select("id", tx.lang_id(tx.ws_tokens("text")).alias("g")).collect()
    got = {r.id: r.g for r in rows}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "und"


def test_mysql_pattern_formats_like_strftime(spark):
    """Translated MySQL patterns produce the same text Python's
    strftime produces for the shared specifiers."""
    ts = datetime.datetime(1997, 3, 9, 14, 5, 42)
    cases = ["%Y-%m-%d", "%d/%m/%Y %H:%i:%s", "%Y%j", "%b %Y", "%H:%i"]
    df = spark.createDataFrame([(ts,)], "ts timestamp")
    sel = [
        F.date_format("ts", mysql_to_java_pattern(fmt)).alias(f"c{i}")
        for i, fmt in enumerate(cases)
    ]
    row = df.select(*sel).collect()[0]
    for i, fmt in enumerate(cases):
        pyfmt = fmt.replace("%i", "%M").replace("%s", "%S")
        assert row[f"c{i}"] == ts.strftime(pyfmt), fmt


def test_hamming64_known(spark):
    df = spark.createDataFrame([(0b1010, 0b0110)], "a long, b long")
    got = df.select(dd.hamming64(F.col("a"), F.col("b")).alias("h")).collect()[0].h
    assert got == 2


def test_salted_join_equals_plain_join(spark):
    from presto_0_235_spark.operators.skew import salted_join

    probe = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z"), (3, "w"), (None, "n")],
        "k int, v string",
    )
    build = spark.createDataFrame([(1, "A"), (2, "B"), (9, "C")], "bk int, bv string")
    plain = sorted(
        (r.k, r.v, r.bv)
        for r in probe.join(build, probe.k == build.bk).collect()
    )
    salted = sorted(
        (r.k, r.v, r.bv)
        for r in salted_join(probe, build, "k", "bk", salt=4).collect()
    )
    assert plain == salted


def test_lsh_bucket_cap_bounds_mass_duplicates(spark):
    """A mass-duplicated boilerplate doc must NOT produce a quadratic
    candidate-pair set: every copy lands in the same band buckets, so
    without the cap N copies emit ~N^2/2 pairs; with the cap the
    degenerate buckets are excluded entirely (their members belong to
    the exact-dedup path, which the curation pipeline runs first)."""
    n = 300
    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(n)]
    rows += [(1000, "a genuinely unique document about gardens"),
             (1001, "a genuinely unique document about gardens!")]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string").select(
        "doc_id", dd.word_shingles("text").alias("sh")
    )
    capped = dd.lsh_candidate_pairs(docs, "doc_id", "sh")
    n_capped = capped.count()
    # the near-dup pair (1000, 1001) must survive; the 300-copy
    # bucket (~45k pairs uncapped) must not
    assert n_capped <= 10, n_capped
    assert capped.filter((F.col("id1") == 1000) & (F.col("id2") == 1001)).count() == 1

    uncapped = dd.lsh_candidate_pairs(docs, "doc_id", "sh", max_bucket=None)
    assert uncapped.count() >= n * (n - 1) // 2


def test_lsh_capped_pairs_equal_join_path_when_no_bucket_oversized(spark):
    """r17 optimization pin: the capped pair generation (groupBy +
    collect_list + in-bucket explode) must emit EXACTLY the pair set
    of the self-join path whenever no bucket exceeds the cap — the
    two spellings differ only in evaluation strategy. Corpus built so
    buckets have assorted small sizes (dup families of 2/3/4 plus
    singletons)."""
    rows = []
    for fam, copies in [(0, 2), (10, 3), (20, 4)]:
        for c in range(copies):
            rows.append((fam + c, f"family {fam} shared text body {'x' * 5}"))
    rows += [(900, "unique text one about rivers"),
             (901, "completely different words entirely")]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string").select(
        "doc_id", dd.word_shingles("text").alias("sh")
    )
    capped = sorted(
        (r.id1, r.id2)
        for r in dd.lsh_candidate_pairs(docs, "doc_id", "sh").collect()
    )
    joined = sorted(
        (r.id1, r.id2)
        for r in dd.lsh_candidate_pairs(
            docs, "doc_id", "sh", max_bucket=None
        ).collect()
    )
    assert capped == joined
    assert all(a < b for a, b in capped)


def test_lsh_distinct_pairs_false_is_multiset_of_same_set(spark):
    """r18 optimization pin: distinct_pairs=False removes the
    pair-dedup exchange, so multi-band collisions may repeat a pair
    (an identical dup family collides in every band) — but the SET
    of pairs must equal the distinct path's exactly, and duplicates
    stay bounded by the band count. Consumers that re-dedup
    downstream (pipeline_corpus_dedup's anti-join) see identical
    results one shuffle cheaper."""
    rows = []
    for fam, copies in [(0, 3), (10, 2)]:
        for c in range(copies):
            # identical text per family -> identical signatures ->
            # the pair collides in ALL 6 bands
            rows.append((fam + c, f"family {fam} shared text body"))
    rows += [(900, "unique text one about rivers")]
    docs = spark.createDataFrame(
        rows, schema="doc_id long, text string"
    ).select("doc_id", dd.word_shingles("text").alias("sh"))
    dup = [
        (r.id1, r.id2)
        for r in dd.lsh_candidate_pairs(
            docs, "doc_id", "sh", distinct_pairs=False
        ).collect()
    ]
    dis = sorted(
        (r.id1, r.id2)
        for r in dd.lsh_candidate_pairs(docs, "doc_id", "sh").collect()
    )
    assert sorted(set(dup)) == dis
    assert len(dup) > len(dis)  # the multi-band dups are real
    from collections import Counter
    assert max(Counter(dup).values()) <= dd.LSH_BANDS


def test_lsh_incremental_cap_excludes_only_oversized_index_buckets(spark):
    """r17 optimization pin: the aggregate-count + anti-join cap must
    drop exactly the index buckets whose size exceeds max_bucket
    (what the window count filtered) while keeping smaller buckets'
    pairs."""
    boiler = [(i, "mass duplicated boilerplate body") for i in range(40)]
    old_rows = boiler + [(500, "rare old document about glaciers")]
    new_rows = [(600, "mass duplicated boilerplate body"),
                (601, "rare old document about glaciers?")]
    mk = lambda rows: spark.createDataFrame(
        rows, schema="doc_id long, text string"
    ).select("doc_id", dd.word_shingles("text").alias("sh"))
    pairs = dd.lsh_incremental_pairs(
        mk(old_rows), mk(new_rows), "doc_id", "sh", max_bucket=8
    ).collect()
    got = {(r.id_new, r.id_old) for r in pairs}
    # the 40-copy boilerplate bucket is oversized -> no (600, *) hits;
    # the rare pair survives via its small bucket.
    assert all(idn != 600 for idn, _ in got), got
    assert (601, 500) in got


def test_connected_components_small_graph(spark):
    """Both connected-components operators label a chain, a star and
    an isolated pair with each component's minimum id, as a Python
    union-find does."""
    edges_py = ([(0, 1), (1, 2), (2, 3)]           # chain
                + [(4, 5), (4, 6), (4, 7)]         # star
                + [(9, 8)])                        # isolated pair
    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            v = parent[v]
        return v

    for a, b in edges_py:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {(v, find(v)) for v in parent}
    edges = spark.createDataFrame(edges_py, schema="id1 long, id2 long")
    for cc in (dd.connected_components, dd.connected_components_star):
        got = {(r.vertex, r.label) for r in cc(edges).collect()}
        assert got == want, cc.__name__


@pytest.mark.slow
def test_connected_components_deep_chain_converges(spark):
    """A 40-vertex path graph (diameter >> checkpoint stride) still
    converges to a single min-label component — exercises the
    localCheckpoint/unpersist lineage hygiene across many rounds."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], schema="id1 long, id2 long"
    )
    labels = dd.connected_components(edges, max_iterations=50)
    got = {(r.vertex, r.label) for r in labels.collect()}
    assert got == {(v, 0) for v in range(41)}


@pytest.mark.slow
def test_cc_star_equals_propagation(spark):
    """large-star/small-star CC must produce exactly the labels of
    min-label propagation on chains, stars, cliques, random graphs,
    and disconnected mixtures."""
    import random

    rng = random.Random(7)
    cases = [
        [(i, i + 1) for i in range(30)],                      # long chain
        [(0, i) for i in range(1, 12)],                       # star
        [(a, b) for a in range(6) for b in range(a + 1, 6)],  # clique
        [(100, 101), (200, 201), (300, 301)],                 # tiny comps
        [(rng.randrange(40), rng.randrange(40)) for _ in range(60)],
    ]
    for edges_py in cases:
        edges_py = [(a, b) for a, b in edges_py if a != b]
        edges = spark.createDataFrame(edges_py, schema="id1 long, id2 long")
        prop = {
            (r.vertex, r.label)
            for r in dd.connected_components(edges, 60).collect()
        }
        star = {
            (r.vertex, r.label)
            for r in dd.connected_components_star(edges, 25).collect()
        }
        assert star == prop, (sorted(star - prop)[:5], sorted(prop - star)[:5])


def test_bar_visible_width_and_monotone_fill(spark):
    """bar(percent, width): after stripping ANSI escapes, the visible
    output is EXACTLY width columns (filled blocks + space padding),
    and fill count is monotone in percent — the reference's
    column-alignment contract (ColorFunctions.java bar pads to
    width)."""
    import re as _re

    from presto_0_235_spark.functions import color as cf

    ansi = _re.compile("\x1b\\[[0-9;]*m")
    rows = spark.range(0, 21).selectExpr(
        "id",
        f"{cf.sql_bar('id / 20.0', 10, cf.SPARK)} AS bar",
    ).collect()
    fills = {}
    for r in rows:
        visible = ansi.sub("", r.bar)
        assert len(visible) == 10, (r.id, repr(visible))
        filled = visible.rstrip(" ")
        assert set(filled) <= {cf.BLOCK}, repr(visible)
        fills[r.id] = len(filled)
    assert all(fills[i] <= fills[i + 1] for i in range(20))
    assert fills[0] == 0 and fills[20] == 10


def test_bar_width_one_refused():
    """width=1 would divide by (width-1)=0 -> NaN HSV math and an
    undefined ANSI index (r3 ADVICE); the generator refuses."""
    import pytest as _pytest

    from presto_0_235_spark.functions import color as cf

    with _pytest.raises(ValueError, match="width must be >= 2"):
        cf.sql_bar("0.5", 1, cf.SPARK)
    with _pytest.raises(ValueError, match="width must be >= 2"):
        cf.sql_bar("0.5", 0, cf.DUCK)


def test_lazy_serde_null_fields_roundtrip(spark):
    """LazySimpleSerDe encode must not drop NULL fields (concat_ws
    skips nulls -> column shift, r3 ADVICE): NULLs encode as \\N and
    decode back to NULL with every later column in place."""
    from pyspark.sql import functions as F

    from presto_0_235_spark.queries.io_q import (
        _decode_orders_slice,
        _lazy_serde_encode,
    )

    src = spark.createDataFrame(
        [
            (1, None, "O", None, "1995-01-01", "1-URGENT"),
            (2, 7, None, 5.5, None, None),
            (3, 8, "F", 0.0, "1996-02-29", "5-LOW"),
        ],
        schema=(
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
            " o_totalprice double, o_date string, o_orderpriority string"
        ),
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_date").cast("date").alias("o_date"),
        "o_orderpriority",
    )
    decoded = _decode_orders_slice(
        src.select(_lazy_serde_encode(src).alias("value"))
    )
    got = sorted(decoded.collect(), key=lambda r: r.o_orderkey)
    want = sorted(src.collect(), key=lambda r: r.o_orderkey)
    assert got == want


def test_spatial_grid_join_lossless_vs_direct(spark, sf_dir):
    """The 3x3-neighborhood grid join returns EXACTLY the
    within-radius pairs of the direct quadratic join for multiple
    radii (triangle-inequality losslessness isn't radius-specific)."""
    from pyspark.sql import functions as F

    from presto_0_235_spark.catalog import load_table

    def pts(df, key_col, n):
        def coord(axis):
            h = F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(axis), F.col(key_col).cast("string"))),
                    1, 6,
                ), 16, 10,
            ).cast("bigint")
            return (h % 10000) / F.lit(100.0)

        return df.filter(F.col(key_col) < n).select(
            F.col(key_col).alias("id"),
            coord("x").alias("x"),
            coord("y").alias("y"),
        )

    left = pts(load_table(spark, sf_dir, "customer"), "c_custkey", 300)
    right = pts(load_table(spark, sf_dir, "supplier"), "s_suppkey", 200)
    for r in (0.7, 5.0):
        lc = left.select(
            "id", "x", "y",
            F.explode(F.expr(
                "flatten(transform(sequence(-1, 1), dx -> "
                "transform(sequence(-1, 1), dy -> struct(dx, dy))))"
            )).alias("n"),
        ).select(
            F.col("id").alias("lid"), F.col("x").alias("lx"),
            F.col("y").alias("ly"),
            (F.floor(F.col("x") / r) + F.col("n.dx")).alias("cx"),
            (F.floor(F.col("y") / r) + F.col("n.dy")).alias("cy"),
        )
        rc = right.select(
            F.col("id").alias("rid"), F.col("x").alias("rx"),
            F.col("y").alias("ry"),
            F.floor(F.col("x") / r).alias("cx"),
            F.floor(F.col("y") / r).alias("cy"),
        )
        d2g = (F.col("lx") - F.col("rx")) ** 2 + (F.col("ly") - F.col("ry")) ** 2
        grid = {
            (row.lid, row.rid)
            for row in lc.join(rc, ["cx", "cy"]).filter(d2g < r * r)
            .select("lid", "rid").collect()
        }
        d2d = (left.x - right.x) ** 2 + (left.y - right.y) ** 2
        direct = {
            (row[0], row[1])
            for row in left.crossJoin(right).filter(d2d < r * r)
            .select(left.id, right.id).collect()
        }
        assert grid == direct, (r, len(grid), len(direct))


def test_avro_codec_roundtrip_edge_values():
    """sources/avro.py codec: nulls in every position, negative
    zigzag values, empty bytes/strings, unicode, pre-epoch dates,
    microsecond timestamps."""
    import datetime

    from presto_0_235_spark.sources import avro as A

    fields = [
        ("k", A.LONG), ("price", A.DOUBLE), ("status", A.STRING),
        ("d", A.DATE), ("flag", A.BOOLEAN), ("payload", A.BYTES),
        ("ts", A.TIMESTAMP_MICROS),
    ]
    rows = [
        (1, 1.5, "ok", datetime.date(2020, 1, 31), True, b"\x00\xff",
         datetime.datetime(2021, 6, 1, 12, 30, 15, 123456)),
        (None, None, None, None, None, None, None),
        (-(2**40), -0.0, "héllo ☃", datetime.date(1969, 12, 31),
         False, b"", datetime.datetime(1969, 12, 31, 23, 59, 59)),
    ]
    data = A.write_container(rows, fields, b"0123456789abcdef")
    got_fields, got_rows = A.read_container(data)
    assert [n for n, _ in got_fields] == [n for n, _ in fields]
    assert got_rows == rows


def test_avro_java_interop(spark):
    """A container file written by the pure-Python codec must decode
    through the REAL Apache Avro Java library (avro-1.12.1.jar ships
    on Spark's classpath) — the spec-conformance check that
    guarantees files exchange with any Avro implementation."""
    import datetime

    from presto_0_235_spark.sources import avro as A

    fields = [("k", A.LONG), ("price", A.DOUBLE), ("status", A.STRING),
              ("d", A.DATE)]
    rows = [
        (1, 1.5, "ok", datetime.date(2020, 1, 31)),
        (None, None, None, None),
        (-7, 2.25, "x", datetime.date(1969, 12, 31)),
    ]
    data = A.write_container(rows, fields, b"0123456789abcdef")
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".avro") as tmp:
        tmp.write(data)
        tmp.flush()
        jvm = spark._jvm
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(tmp.name),
            jvm.org.apache.avro.generic.GenericDatumReader(),
        )
        decoded = []
        while reader.hasNext():
            decoded.append(str(reader.next()))
        reader.close()
    assert decoded == [
        '{"k": 1, "price": 1.5, "status": "ok", "d": 18292}',
        '{"k": null, "price": null, "status": null, "d": null}',
        '{"k": -7, "price": 2.25, "status": "x", "d": -1}',
    ]


def test_avro_multi_file_roundtrip(spark, tmp_path):
    """The distributed shape: N partitions -> N container files ->
    N read tasks. Values, nulls, and types must survive the
    multi-file path (the oracle roundtrip query writes a single
    file at the fixture's partitioning)."""
    from pyspark.sql import functions as F

    from presto_0_235_spark.sources.avro import (
        read_avro_dataframe,
        write_avro_dataframe,
    )

    src = (
        spark.range(1000)
        .repartition(4)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 1.5).alias("v"),
            F.when(F.col("id") % 7 == 0, F.lit(None))
            .otherwise(F.concat(F.lit("s"), F.col("id").cast("string")))
            .alias("s"),
        )
    )
    path = str(tmp_path / "avro_multi")
    n_files = write_avro_dataframe(src, path)
    assert n_files == 4
    back = read_avro_dataframe(spark, path, src.schema)
    assert back.count() == 1000
    with jobs_submitted(spark) as jobs:
        rows = back.collect()
    assert tasks_of(spark, jobs) == [4]
    assert sorted(map(tuple, rows)) == sorted(map(tuple, src.collect()))


@pytest.mark.parametrize("fmt", ["avro", "rcfile", "pagefile"])
def test_codec_source_runs_one_task_per_split(spark, tmp_path, fmt):
    """A one-file sink reads back in one job of one task, with no
    shuffle: the split list rides in the decode closure and
    spark.range schedules one id per split."""
    import importlib

    codec = importlib.import_module(f"presto_0_235_spark.sources.{fmt}")
    src = spark.range(50, numPartitions=1).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
    )
    path = str(tmp_path / fmt)
    assert getattr(codec, f"write_{fmt}_dataframe")(src, path) == 1
    back = getattr(codec, f"read_{fmt}_dataframe")(spark, path, src.schema)
    with jobs_submitted(spark) as jobs:
        rows = back.collect()
    assert len(jobs) == 1
    assert tasks_of(spark, jobs) == [1]
    assert "Exchange" not in back._jdf.queryExecution().executedPlan(
    ).toString()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, src.collect()))


@pytest.mark.parametrize("fmt", ["avro", "rcfile", "pagefile"])
def test_codec_sink_keeps_nullable_longs_exact(spark, tmp_path, fmt):
    """BIGINTs beyond 2^53 roundtrip exactly through every codec sink,
    in a nullable column and in one without nulls: no sink sees them as
    float64. One partition holds every row, so the null shares a batch
    with the big longs."""
    import importlib

    from presto_0_235_spark.session import local_rows

    codec = importlib.import_module(f"presto_0_235_spark.sources.{fmt}")
    rows = [(2**62 + 1, "a", 2**62 + 1), (None, None, 2**53 + 1),
            (-(2**63), "b", -(2**63)), (2**53 + 1, "c", 7)]
    src = local_rows(spark, rows, "k bigint, s string, n bigint").coalesce(1)
    path = str(tmp_path / fmt)
    getattr(codec, f"write_{fmt}_dataframe")(src, path)
    back = getattr(codec, f"read_{fmt}_dataframe")(spark, path, src.schema)
    key = lambda r: (r[0] is None, r[0] or 0)  # noqa: E731
    assert sorted(map(tuple, back.collect()), key=key) == sorted(rows, key=key)


class TestRcFileCodec:
    """sources/rcfile.py — the public RCFile layout (header, sync'd
    row groups, RLE cell-length key sections, Hadoop vlongs) with
    RCBINARY (LazyBinaryColumnarSerDe) and RCTEXT (ColumnarSerDe)
    cells, written from the reference's own presto-rcfile
    re-implementation (RcFileWriter.java / binary/*Encoding.java).
    The authority check is byte interop with Hive's REAL classes
    (hive-exec on Spark's classpath), both directions."""

    _COLS = ["k", "s", "d", "dt", "fl"]
    _TYPES = "bigint,string,double,date,boolean"

    def _kinds(self):
        from presto_0_235_spark.sources import rcfile as rc

        return [rc.LONG, rc.STRING, rc.DOUBLE, rc.DATE, rc.BOOLEAN]

    def _pdf(self):
        import datetime

        import pandas as pd

        return pd.DataFrame(
            {
                "k": pd.array([1, None, -(2**62)], dtype=object),
                "s": pd.array(["héllo", "", None], dtype=object),
                "d": pd.array([1.5, None, -2.25], dtype=object),
                "dt": pd.array(
                    [datetime.date(2024, 2, 29), None,
                     datetime.date(1969, 12, 31)],
                    dtype=object,
                ),
                "fl": pd.array([True, False, None], dtype=object),
            }
        )

    def test_vlong_hadoop_format(self):
        """Hadoop WritableUtils vlong: one byte for -112..127, else
        sign+size marker then big-endian magnitude
        (RcFileDecoderUtils.java:45-113)."""
        from presto_0_235_spark.sources import rcfile as rc

        for v in [0, 1, -1, 127, -112, 128, -113, 255, 2**31,
                  -(2**31) - 1, 2**62, -(2**62), 2**63 - 1, -(2**63)]:
            out = bytearray()
            rc.write_vlong(out, v)
            got, pos = rc.read_vlong(bytes(out), 0)
            assert got == v and pos == len(out), v
        one = bytearray()
        rc.write_vlong(one, 127)
        assert len(one) == 1
        two = bytearray()
        rc.write_vlong(two, 128)
        assert two[0] == (-113 & 0xFF) and two[1] == 128

    def test_python_roundtrip_multi_group(self):
        """Values, nulls, empty strings, and >2^53 longs survive the
        codec across row-group boundaries, both serdes."""
        import datetime
        import math
        import tempfile

        from presto_0_235_spark.sources import rcfile as rc

        pdf = self._pdf()
        kinds = self._kinds()
        for serde in ("binary", "text"):
            with tempfile.NamedTemporaryFile(suffix=".rc") as tmp:
                groups = rc.write_file(
                    tmp.name, pdf, kinds, serde, row_group_rows=2
                )
                assert groups == 2
                cols = rc.read_file(tmp.name, kinds, serde)
            assert cols[0] == [1, None, -(2**62)], serde
            assert cols[1] == ["héllo", "", None], serde
            assert cols[2][0] == 1.5 and cols[2][1] is None
            assert math.isclose(cols[2][2], -2.25)
            assert cols[3] == [
                datetime.date(2024, 2, 29), None,
                datetime.date(1969, 12, 31),
            ]
            assert cols[4] == [True, False, None], serde

    def test_rle_length_packing(self):
        """A run of equal cell lengths packs as the length then
        ~runLength (ColumnEncodeOutput.closeEntry)."""
        from presto_0_235_spark.sources import rcfile as rc

        packed = rc._pack_lengths([5, 5, 5, 2, 9, 9])
        expect = bytearray()
        rc.write_vlong(expect, 5)
        rc.write_vlong(expect, ~2)
        rc.write_vlong(expect, 2)
        rc.write_vlong(expect, 9)
        rc.write_vlong(expect, ~1)
        assert packed == bytes(expect)
        assert rc._unpack_lengths(packed, 6) == [5, 5, 5, 2, 9, 9]

    def test_hive_java_reads_python_rcbinary(self, spark, tmp_path):
        """A codec-written RCBINARY file must decode through Hive's
        REAL RCFile.Reader + LazyBinaryColumnarSerDe — container,
        key sections, and every cell encoding byte-compatible."""
        from presto_0_235_spark.sources import rcfile as rc

        p = str(tmp_path / "py_binary.rc")
        rc.write_file(p, self._pdf(), self._kinds(), "binary",
                      row_group_rows=2)
        rows = self._hive_read(spark, p, "LazyBinaryColumnarSerDe")
        assert rows == [
            ["1", "héllo", "1.5", "2024-02-29", "True"],
            [None, "", None, None, "False"],
            ["-4611686018427387904", None, "-2.25", "1969-12-31", None],
        ]

    def test_hive_java_reads_python_rctext(self, spark, tmp_path):
        """Same spec pin for RCTEXT cells through Hive's
        ColumnarSerDe (text cells, \\N nulls)."""
        from presto_0_235_spark.sources import rcfile as rc

        p = str(tmp_path / "py_text.rc")
        rc.write_file(p, self._pdf(), self._kinds(), "text",
                      row_group_rows=2)
        rows = self._hive_read(spark, p, "ColumnarSerDe")
        assert rows == [
            ["1", "héllo", "1.5", "2024-02-29", "True"],
            [None, "", None, None, "False"],
            ["-4611686018427387904", None, "-2.25", "1969-12-31", None],
        ]

    def test_python_reads_hive_written_rcbinary(self, spark, tmp_path):
        """The reverse direction: a file written by Hive's REAL
        RCFile.Writer + LazyBinaryColumnarSerDe decodes through the
        Python codec with identical values and nulls."""
        import datetime
        import os

        from presto_0_235_spark.sources import rcfile as rc

        p = str(tmp_path / "hive_binary.rc")
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        props = jvm.java.util.Properties()
        props.setProperty("columns", ",".join(self._COLS))
        props.setProperty("columns.types", self._TYPES)
        serde = (
            jvm.org.apache.hadoop.hive.serde2.columnar
            .LazyBinaryColumnarSerDe()
        )
        serde.initialize(conf, props)
        poif = (
            jvm.org.apache.hadoop.hive.serde2.objectinspector.primitive
            .PrimitiveObjectInspectorFactory
        )
        insp = [
            poif.writableLongObjectInspector,
            poif.writableStringObjectInspector,
            poif.writableDoubleObjectInspector,
            poif.writableDateObjectInspector,
            poif.writableBooleanObjectInspector,
        ]
        names = jvm.java.util.ArrayList()
        ois = jvm.java.util.ArrayList()
        for c, oi in zip(self._COLS, insp):
            names.add(c)
            ois.add(oi)
        soi = (
            jvm.org.apache.hadoop.hive.serde2.objectinspector
            .ObjectInspectorFactory
            .getStandardStructObjectInspector(names, ois)
        )
        jvm.org.apache.hadoop.hive.ql.io.RCFileOutputFormat.setColumnNumber(
            conf, len(self._COLS)
        )
        if os.path.exists(p):
            os.remove(p)
        jpath = jvm.org.apache.hadoop.fs.Path(p)
        fs = jpath.getFileSystem(conf)
        writer = jvm.org.apache.hadoop.hive.ql.io.RCFile.Writer(
            fs, conf, jpath
        )
        lw = jvm.org.apache.hadoop.io.LongWritable
        tw = jvm.org.apache.hadoop.io.Text
        dw = jvm.org.apache.hadoop.io.DoubleWritable
        daw = jvm.org.apache.hadoop.hive.serde2.io.DateWritable
        bw = jvm.org.apache.hadoop.io.BooleanWritable
        epoch = datetime.date(1970, 1, 1)
        data = [
            (1, "héllo", 1.5, datetime.date(2024, 2, 29), True),
            (None, "", None, None, False),
            (-(2**62), None, -2.25, datetime.date(1969, 12, 31), None),
        ]
        for r in data:
            row = jvm.java.util.ArrayList()
            row.add(None if r[0] is None else lw(r[0]))
            row.add(None if r[1] is None else tw(r[1]))
            row.add(None if r[2] is None else dw(r[2]))
            row.add(None if r[3] is None else daw((r[3] - epoch).days))
            row.add(None if r[4] is None else bw(r[4]))
            writer.append(serde.serialize(row, soi))
        writer.close()

        cols = rc.read_file(p, self._kinds(), "binary")
        got = [tuple(c[i] for c in cols) for i in range(3)]
        assert got == data

    def _hive_read(self, spark, path, serde_name):
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(conf)
        reader = jvm.org.apache.hadoop.hive.ql.io.RCFile.Reader(
            fs, jpath, conf
        )
        props = jvm.java.util.Properties()
        props.setProperty("columns", ",".join(self._COLS))
        props.setProperty("columns.types", self._TYPES)
        serde = getattr(
            jvm.org.apache.hadoop.hive.serde2.columnar, serde_name
        )()
        serde.initialize(conf, props)
        rid = jvm.org.apache.hadoop.io.LongWritable()
        braw = (
            jvm.org.apache.hadoop.hive.serde2.columnar
            .BytesRefArrayWritable()
        )
        out_oi = serde.getObjectInspector()
        frefs = out_oi.getAllStructFieldRefs()
        rows = []
        while reader.next(rid):
            reader.getCurrentRow(braw)
            obj = serde.deserialize(braw)
            vals = []
            for i in range(frefs.size()):
                fref = frefs.get(i)
                data = out_oi.getStructFieldData(obj, fref)
                if data is None:
                    vals.append(None)
                else:
                    vals.append(
                        str(
                            fref.getFieldObjectInspector()
                            .getPrimitiveJavaObject(data)
                        )
                    )
            rows.append(vals)
        reader.close()
        return rows

    def test_distributed_roundtrip_no_driver_loops(self, spark, tmp_path):
        """N partitions -> N files -> per-file read tasks, values and
        nulls intact — and the io_q query path contains no
        driver-side row loops (the r7 bridge's toLocalIterator is
        gone)."""
        import inspect

        from pyspark.sql import functions as F

        from presto_0_235_spark.queries import io_q
        from presto_0_235_spark.sources.rcfile import (
            read_rcfile_dataframe,
            write_rcfile_dataframe,
        )

        src = (
            spark.range(1000)
            .repartition(4)
            .select(
                F.col("id").alias("k"),
                (F.col("id") * 1.5).alias("v"),
                F.when(F.col("id") % 7 == 0, F.lit(None))
                .otherwise(
                    F.concat(F.lit("s"), F.col("id").cast("string"))
                )
                .alias("s"),
            )
        )
        for serde in ("binary", "text"):
            path = str(tmp_path / f"rc_multi_{serde}")
            n_files = write_rcfile_dataframe(src, path, serde)
            assert n_files == 4
            back = read_rcfile_dataframe(spark, path, src.schema, serde)
            assert back.rdd.getNumPartitions() == 4
            assert sorted(map(tuple, back.collect())) == sorted(
                map(tuple, src.collect())
            )
        assert "toLocalIterator" not in inspect.getsource(io_q)


class TestPageFileCodec:
    """sources/pagefile.py — the reference's PAGEFILE byte layout
    (SerializedPage frames + named block encodings + stripe footer),
    pinned against hand-computed golden bytes so a codec regression
    fails on the exact offset, not just 'roundtrip broke'."""

    def test_golden_frame_layout(self, tmp_path):
        """Two rows (7, 'ab') / (NULL, NULL) -> exact bytes per
        PagesSerdeUtil.writeSerializedPage + LongArrayBlockEncoding +
        VariableWidthBlockEncoding + EncoderUtil null bits +
        PageFileFooterOutput."""
        import struct

        import pandas as pd

        from presto_0_235_spark.sources import pagefile as pf

        p = str(tmp_path / "golden.pagefile")
        pdf = pd.DataFrame({"k": [7, None], "s": ["ab", None]})
        pf.write_file(p, pdf, [pf.LONG, pf.STRING])
        data = open(p, "rb").read()

        block_long = (
            struct.pack("<i", 10) + b"LONG_ARRAY"
            + struct.pack("<i", 2)  # positionCount
            + b"\x01"  # mayHaveNull
            + b"\x40"  # null bits MSB-first: pos1 null -> 0b0100_0000
            + struct.pack("<q", 7)  # the single non-null long
        )
        block_var = (
            struct.pack("<i", 14) + b"VARIABLE_WIDTH"
            + struct.pack("<i", 2)
            + struct.pack("<ii", 2, 2)  # cumulative END offsets
            + b"\x01\x40"  # nulls
            + struct.pack("<i", 2) + b"ab"  # totalLength + slice
        )
        raw = struct.pack("<i", 2) + block_long + block_var
        frame = struct.pack("<iBii", 2, 0, len(raw), len(raw)) + raw
        footer = struct.pack("<q", 0) + struct.pack("<i", 12)
        assert data == frame + footer

    def test_roundtrip_edge_values(self, tmp_path):
        """Every mapped kind; NaN survives as a double VALUE (Presto
        NaN-is-a-value semantics), -0.0 bit pattern, unicode, empty
        string/bytes, pre-epoch dates, millis timestamps."""
        import datetime
        import math

        import pandas as pd

        from presto_0_235_spark.sources import pagefile as pf

        pdf = pd.DataFrame(
            {
                "k": pd.array([1, None, -(2**62)], dtype=object),
                "i": pd.array([7, None, -40000], dtype=object),
                "sm": pd.array([1, -32768, None], dtype=object),
                "by": pd.array([None, True, False], dtype=object),
                "d": pd.array(
                    [float("nan"), -0.0, 2e300], dtype=object
                ),
                "s": pd.array(["héllo ☃", "", None], dtype=object),
                "bin": pd.array([b"", None, b"\x00\xff"], dtype=object),
                "dt": pd.array(
                    [datetime.date(1969, 12, 31), None,
                     datetime.date(2024, 2, 29)],
                    dtype=object,
                ),
                "ts": pd.array(
                    [datetime.datetime(2021, 6, 1, 12, 30, 15, 123000),
                     None, datetime.datetime(1969, 12, 31, 23, 59, 59)],
                    dtype=object,
                ),
            }
        )
        kinds = [pf.LONG, pf.INT, pf.SHORT, pf.BYTE, pf.DOUBLE,
                 pf.STRING, pf.BINARY, pf.DATE, pf.TIMESTAMP]
        p = str(tmp_path / "edge.pagefile")
        pf.write_file(p, pdf, kinds, page_positions=2)
        offsets, footer_offset = pf.read_footer(p)
        cols = [[] for _ in kinds]
        for i, start in enumerate(offsets):
            end = (
                offsets[i + 1] if i + 1 < len(offsets) else footer_offset
            )
            for page_cols in pf.read_stripe(p, start, end, kinds):
                for j, c in enumerate(page_cols):
                    cols[j].extend(c)
        assert cols[0] == [1, None, -(2**62)]
        assert cols[1] == [7, None, -40000]
        assert cols[2] == [1, -32768, None]
        assert cols[3] == [None, 1, 0]
        assert math.isnan(cols[4][0])  # NaN is a value, not NULL
        assert (
            cols[4][1] == 0.0
            and math.copysign(1.0, cols[4][1]) == -1.0
        )
        assert cols[4][2] == 2e300
        assert cols[5] == ["héllo ☃", "", None]
        assert cols[6] == [b"", None, b"\x00\xff"]
        assert cols[7] == [datetime.date(1969, 12, 31), None,
                           datetime.date(2024, 2, 29)]
        assert cols[8] == [
            datetime.datetime(2021, 6, 1, 12, 30, 15, 123000),
            None,
            datetime.datetime(1969, 12, 31, 23, 59, 59),
        ]

    def test_zstd_compression_marker_and_ratio_gate(self, tmp_path):
        """Compressible pages carry the COMPRESSED marker (bit 1,
        PageCodecMarker.java) as a standard zstd frame; pages that
        miss the 0.8 min-ratio gate stay raw (PagesSerde.wrapSlice)."""
        import struct

        import pandas as pd

        from presto_0_235_spark.sources import pagefile as pf

        p = str(tmp_path / "z.pagefile")
        pdf = pd.DataFrame({"s": ["the same text again"] * 500})
        pf.write_file(p, pdf, [pf.STRING], compression="zstd")
        data = open(p, "rb").read()
        n_rows, markers, unc, size = struct.unpack_from("<iBii", data, 0)
        assert n_rows == 500
        assert markers == pf.COMPRESSED_MARKER
        assert size < unc * pf.MIN_COMPRESSION_RATIO + 1
        # zstd frame magic: the bytes really are airlift-compatible
        assert data[13:17] == b"\x28\xb5\x2f\xfd"

        import os

        import numpy as np

        rng = np.random.RandomState(7)
        incompressible = [
            bytes(rng.randint(0, 256, 64, dtype=np.uint8).tobytes())
            for _ in range(200)
        ]
        p2 = str(tmp_path / "raw.pagefile")
        pf.write_file(
            p2, pd.DataFrame({"b": incompressible}), [pf.BINARY],
            compression="zstd",
        )
        d2 = open(p2, "rb").read()
        _, markers2, unc2, size2 = struct.unpack_from("<iBii", d2, 0)
        assert markers2 == 0 and size2 == unc2  # ratio gate kept raw
        assert os.path.getsize(p2) > os.path.getsize(p)

        # both decode identically through the stripe reader
        offsets, fo = pf.read_footer(p)
        (page_cols,) = pf.read_stripe(p, 0, fo, [pf.STRING])
        assert page_cols[0] == ["the same text again"] * 500

    def test_zstd_page_body_decodes_through_jvm_zstd(
        self, spark, tmp_path
    ):
        """Cross-implementation pin: a COMPRESSED page body written
        by the codec must decompress through the JVM's zstd-jni
        (com.github.luben.zstd, bundled with Spark) — proving the
        frames really are the standard zstd format airlift's
        ZstdDecompressor reads, not merely pyarrow-roundtrippable."""
        import struct

        import pandas as pd

        from presto_0_235_spark.sources import pagefile as pf

        p = str(tmp_path / "interop.pagefile")
        pdf = pd.DataFrame({"s": ["repeated body text"] * 300})
        pf.write_file(p, pdf, [pf.STRING], compression="zstd")
        data = open(p, "rb").read()
        _, markers, unc, size = struct.unpack_from("<iBii", data, 0)
        assert markers == pf.COMPRESSED_MARKER
        body = data[13 : 13 + size]
        jvm = spark._jvm
        raw = bytes(jvm.com.github.luben.zstd.Zstd.decompress(body, unc))
        assert len(raw) == unc
        # decoded slice parses as the raw page: blockCount then the
        # VARIABLE_WIDTH block with all 300 strings
        cols, n_rows, _ = pf.decode_page(
            memoryview(
                struct.pack("<iBii", 300, 0, len(raw), len(raw)) + raw
            ),
            0,
            [pf.STRING],
        )
        assert n_rows == 300
        assert cols[0] == ["repeated body text"] * 300

    def test_stripe_splits_parallel_read(self, spark, tmp_path):
        """A single large file splits into one read task per stripe
        (the format's split contract): force tiny stripes, then the
        Spark source must see every row exactly once."""
        from pyspark.sql import functions as F

        from presto_0_235_spark.sources import pagefile as pf
        from presto_0_235_spark.sources.pagefile import (
            read_pagefile_dataframe,
        )

        src = spark.range(5000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
        )
        path = str(tmp_path / "striped")
        import os

        import pandas as pd

        os.makedirs(path)
        pdf = src.toPandas()
        n_stripes = pf.write_file(
            os.path.join(path, "part-00000.pagefile"),
            pdf,
            pf.spark_kinds(src.schema),
            page_positions=256,
            stripe_max_bytes=16 * 1024,
        )
        assert n_stripes > 1
        back = read_pagefile_dataframe(spark, path, src.schema)
        assert back.rdd.getNumPartitions() == n_stripes
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, src.collect())
        )

    def test_multi_file_roundtrip(self, spark, tmp_path):
        """N partitions -> N files -> per-stripe read tasks, values
        and nulls intact (the distributed sink/source shape)."""
        from pyspark.sql import functions as F

        from presto_0_235_spark.sources.pagefile import (
            read_pagefile_dataframe,
            write_pagefile_dataframe,
        )

        src = (
            spark.range(1000)
            .repartition(4)
            .select(
                F.col("id").alias("k"),
                (F.col("id") * 1.5).alias("v"),
                F.when(F.col("id") % 7 == 0, F.lit(None))
                .otherwise(
                    F.concat(F.lit("s"), F.col("id").cast("string"))
                )
                .alias("s"),
            )
        )
        path = str(tmp_path / "pagefile_multi")
        n_files = write_pagefile_dataframe(src, path)
        assert n_files == 4
        back = read_pagefile_dataframe(spark, path, src.schema)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, src.collect())
        )

    def test_boolean_column_spark_roundtrip(self, spark, tmp_path):
        """Boolean columns must survive the distributed sink/source:
        BOOLEAN cells ride BYTE_ARRAY on disk but decode to Python
        bools (Arrow rejects int objects in a boolean column)."""
        from pyspark.sql import functions as F

        from presto_0_235_spark.sources.pagefile import (
            read_pagefile_dataframe,
            write_pagefile_dataframe,
        )

        src = spark.range(100).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 5 == 0, F.lit(None))
            .otherwise(F.col("id") % 2 == 0)
            .alias("flag"),
        )
        path = str(tmp_path / "pagefile_bool")
        write_pagefile_dataframe(src, path)
        back = read_pagefile_dataframe(spark, path, src.schema)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, src.collect())
        )

    def test_nullable_bigint_beyond_2p53_exact(self, spark, tmp_path):
        """A nullable bigint with |v| > 2^53 must round-trip exactly
        through the distributed sink: the Arrow batches feed the codec
        directly (mapInArrow), never passing through pandas float64."""
        from pyspark.sql import functions as F

        from presto_0_235_spark.sources.pagefile import (
            read_pagefile_dataframe,
            write_pagefile_dataframe,
        )

        big = 2**62 + 1  # unrepresentable in float64 (rounds to 2^62)
        src = spark.createDataFrame(
            [(1, big), (2, None), (3, -big)], "id bigint, v bigint"
        )
        path = str(tmp_path / "pagefile_bigint")
        write_pagefile_dataframe(src, path)
        back = read_pagefile_dataframe(spark, path, src.schema)
        got = {r["id"]: r["v"] for r in back.collect()}
        assert got == {1: big, 2: None, 3: -big}

    def test_empty_file_reference_footer_shape(self, tmp_path):
        """Empty input writes the reference's empty-file shape — zero
        stripes, footer == just its own int32 size 4
        (PageFileFooterOutput.createEmptyPageFileFooterOutput) — not a
        stripe containing an empty page."""
        import os
        import struct

        import pandas as pd

        from presto_0_235_spark.sources import pagefile as pf

        p = str(tmp_path / "empty.pagefile")
        pdf = pd.DataFrame({"k": pd.array([], dtype=object)})
        n_stripes = pf.write_file(p, pdf, [pf.LONG])
        assert n_stripes == 0
        with open(p, "rb") as fh:
            raw = fh.read()
        assert raw == struct.pack("<i", 4)
        offsets, footer_offset = pf.read_footer(p)
        assert offsets == [] and footer_offset == 0
        assert os.path.getsize(p) == 4


def test_incremental_lsh_matches_cross_pairs_of_full_run(spark):
    """lsh_incremental_pairs(old, new) must equal the CROSS-corpus
    subset of lsh_candidate_pairs(old ∪ new) on a corpus with no
    capped buckets (the cap scopes differ by design: index-side vs
    global), and must contain no old-old or new-new pairs."""
    from pyspark.sql import functions as F

    from presto_0_235_spark.operators import dedup as dd

    base = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta "),
            F.when(F.col("id") % 9 == 0, F.lit("eta theta iota"))
            .otherwise(
                F.concat(F.lit("word"), F.col("id").cast("string"))
            ),
        ).alias("text"),
    )
    docs = base.select(
        "doc_id", dd.word_shingles("text", 2).alias("sh")
    ).persist()
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    inc = {
        (r.id_new, r.id_old)
        for r in dd.lsh_incremental_pairs(old, new, "doc_id", "sh")
        .collect()
    }
    full = {
        (r.id1, r.id2)
        for r in dd.lsh_candidate_pairs(docs, "doc_id", "sh").collect()
    }
    cross = {
        (b, a) if b % 2 == 1 else (a, b)
        for a, b in full
        if a % 2 != b % 2
    }
    assert inc == cross
    assert all(n % 2 == 1 and o % 2 == 0 for n, o in inc)


def test_time_type_boundary_rendering(spark):
    """Plain-TIME boundaries: midnight renders 00:00:00.000 and the
    last representable milli renders 23:59:59.999 (the TimeType
    value-range endpoints)."""
    from pyspark.sql import functions as F

    def render(m):
        hour = F.floor(F.lit(m) / 3600000).cast("bigint")
        minute = F.floor((F.lit(m) % 3600000) / 60000).cast("bigint")
        second = F.floor((F.lit(m) % 60000) / 1000).cast("bigint")
        return F.concat(
            F.lpad(hour.cast("string"), 2, "0"), F.lit(":"),
            F.lpad(minute.cast("string"), 2, "0"), F.lit(":"),
            F.lpad(second.cast("string"), 2, "0"), F.lit("."),
            F.lpad((F.lit(m) % 1000).cast("string"), 3, "0"),
        )

    row = spark.range(1).select(
        render(0).alias("lo"), render(86399999).alias("hi")
    ).first()
    assert row.lo == "00:00:00.000"
    assert row.hi == "23:59:59.999"


def test_convex_hull_two_phase_exact_and_contains_all(spark):
    """convex_hull_agg properties: (1) the two-phase distributed
    hull equals the single-pass hull of all collected points —
    hull(all) == hull(union of partial hulls), exactly; (2) every
    input point lies inside or on the hull (point-polygon distance
    0 up to fp eps); (3) the ring is convex and CCW (all edge cross
    products >= 0); (4) the scalar st_convex_hull UDF agrees with
    the same kernel."""
    import math

    from pyspark.sql import functions as F

    from presto_0_235_spark.functions import geo
    from presto_0_235_spark.functions.geo import _hull_of, convex_hull_agg

    pts = (
        spark.range(500)
        .repartition(8)
        .select(
            (F.col("id") % 3).cast("int").alias("grp"),
            (F.cos(F.col("id").cast("double")) * (1 + F.col("id") % 7))
            .alias("px"),
            (F.sin(F.col("id").cast("double")) * (1 + F.col("id") % 5))
            .alias("py"),
        )
    )
    hull = convex_hull_agg(pts, ["grp"], "px", "py").collect()
    by_grp = {}
    for r in hull:
        by_grp.setdefault(r.grp, []).append((r.seq, r.px, r.py))
    raw = {}
    for r in pts.collect():
        raw.setdefault(r.grp, []).append((r.px, r.py))

    for grp, ring_rows in by_grp.items():
        ring = [(x, y) for _, x, y in sorted(ring_rows)]
        # (1) distributed == single-pass
        assert ring == _hull_of(raw[grp]), grp
        # (3) convex, CCW
        for (ax, ay), (bx, by), (cx, cy) in zip(
            ring, ring[1:], ring[2:] + ring[1:2]
        ):
            cross = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
            assert cross >= -1e-12, (grp, cross)
        # (2) all points inside or on the hull
        def dist_to_seg(p, a, b):
            vx, vy = b[0] - a[0], b[1] - a[1]
            wx, wy = p[0] - a[0], p[1] - a[1]
            ln = vx * vx + vy * vy
            t = max(0.0, min(1.0, (wx * vx + wy * vy) / ln)) if ln else 0.0
            return math.hypot(wx - t * vx, wy - t * vy)

        def inside(p):
            c = 0
            for a, b in zip(ring, ring[1:]):
                if (a[1] > p[1]) != (b[1] > p[1]):
                    xi = (b[0] - a[0]) * (p[1] - a[1]) / (b[1] - a[1]) + a[0]
                    if p[0] < xi:
                        c += 1
            return c % 2 == 1

        for p in raw[grp]:
            on_edge = min(
                dist_to_seg(p, a, b) for a, b in zip(ring, ring[1:])
            )
            assert inside(p) or on_edge <= 1e-9, (grp, p)

    # (4) scalar door agrees with the kernel
    row = (
        spark.range(1)
        .select(
            geo.st_convex_hull(
                F.array(
                    *[
                        geo.st_point(F.lit(float(x)), F.lit(float(y)))
                        for x, y in [(0, 0), (4, 0), (4, 4), (0, 4),
                                     (2, 2), (1, 3)]
                    ]
                )
            ).alias("h")
        )
        .first()
    )
    got = [(p["x"], p["y"]) for p in row.h]
    assert got == _hull_of([(0, 0), (4, 0), (4, 4), (0, 4), (2, 2),
                            (1, 3)])


def test_fnv_standard_vectors(spark):
    """All four FNV variants against the published test vectors
    (fnv1_32('hello') = 0xb6fa7167, fnv1a_32 = 0x4f9f2cab,
    fnv1_64 = 0x7b495389bdbdd4c7, fnv1a_64 = 0xa430d84680aabd0b;
    empty input returns the offset basis)."""
    from pyspark.sql import functions as F

    from presto_0_235_spark.functions import scalar as ps
    from presto_0_235_spark.functions.udfs import fnv1_64, fnv1a_64

    row = spark.range(1).select(
        ps.fnv1_32(F.lit(b"hello")).alias("a"),
        ps.fnv1a_32(F.lit(b"hello")).alias("b"),
        fnv1_64(F.lit(b"hello")).alias("c"),
        fnv1a_64(F.lit(b"hello")).alias("d"),
        ps.fnv1_32(F.lit(b"")).alias("e32"),
        fnv1_64(F.lit(b"")).alias("e64"),
    ).first()
    u32, u64 = (1 << 32) - 1, (1 << 64) - 1
    assert row.a & u32 == 0xB6FA7167
    assert row.b & u32 == 0x4F9F2CAB
    assert row.c & u64 == 0x7B495389BDBDD4C7
    assert row.d & u64 == 0xA430D84680AABD0B
    assert row.e32 & u32 == 0x811C9DC5
    assert row.e64 & u64 == 0xCBF29CE484222325


def test_tdigest_wire_query_bounds(spark, sf_dir):
    """agg_tdigest_wire_format end-to-end: per-group and merged
    p50/p90/p99 must sit within 1.5% rank error of the exact
    percentiles computed on the same parquet."""
    import numpy as np

    from presto_0_235_spark.queries.aggregates_q import (
        agg_tdigest_wire_format,
    )

    got = {
        r["l_returnflag"]: r
        for r in agg_tdigest_wire_format(spark, sf_dir).collect()
    }
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_returnflag", "l_extendedprice")
        .toPandas()
    )
    groups = {
        flag: np.sort(grp["l_extendedprice"].to_numpy())
        for flag, grp in li.groupby("l_returnflag")
    }
    groups["ALL (merged)"] = np.sort(li["l_extendedprice"].to_numpy())
    assert set(got) == set(groups)
    for flag, xs in groups.items():
        row = got[flag]
        assert row["n"] == len(xs)
        for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            rank = np.searchsorted(xs, row[col]) / len(xs)
            assert abs(rank - q) < 0.015, (flag, col, rank)


def test_qdigest_query_bounds(spark, sf_dir):
    """agg_qdigest_semantic end-to-end: per-group p50/p90/p99 of
    l_orderkey must sit within the 1% rank-error bound of the exact
    quantiles on the same parquet (the Shrivastava Theorem-1 bound
    the sketch is compressed to — tests/test_qdigest.py pins the
    sketch-level properties, THIS pins the distributed two-phase
    query path)."""
    import numpy as np

    from presto_0_235_spark.queries.aggregates_q import (
        agg_qdigest_semantic,
    )

    got = {
        r["l_returnflag"]: r
        for r in agg_qdigest_semantic(spark, sf_dir).collect()
    }
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_returnflag", "l_orderkey")
        .toPandas()
    )
    groups = {
        flag: np.sort(grp["l_orderkey"].to_numpy())
        for flag, grp in li.groupby("l_returnflag")
    }
    assert set(got) == set(groups)
    for flag, xs in groups.items():
        row = got[flag]
        assert row["n"] == len(xs)
        for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            # value-bracketing (rank-of-value breaks under ties)
            n = len(xs)
            lo = xs[max(0, min(n - 1, int((q - 0.01) * n) - 1))]
            hi = xs[max(0, min(n - 1, int((q + 0.01) * n)))]
            assert lo <= row[col] <= hi, (flag, col, row[col])


def test_lsh_expr_spelling_plan_identical_to_column_form(spark):
    """r17 optimization pin: spark_lsh_band_keys_sql / the single-expr
    pair explode (one Py4J round trip per build) must reach the SAME
    optimized plan as the Column-API spelling they replaced — the
    Column form's array(min_0..min_K)[idx] subscripts are folded by
    SimplifyExtractValueOps into exactly the per-band mins the SQL
    form spells directly, so results are identical by construction."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        schema="doc_id long, text string",
    ).select("doc_id", dd.word_shingles("text").alias("sh"))

    def canon(df):
        return (
            df._jdf.queryExecution().optimizedPlan().canonicalized()
            .toString()
        )

    sig = dd.minhash_signature(F.col("sh"))
    old_banded = docs.select(
        "doc_id",
        F.posexplode(dd.lsh_band_keys(sig)).alias("band_id", "band_key"),
    )
    new_banded = docs.select(
        "doc_id",
        F.posexplode(F.expr(dd.spark_lsh_band_keys_sql("sh"))).alias(
            "band_id", "band_key"
        ),
    )
    assert canon(old_banded) == canon(new_banded)

    buckets = (
        old_banded.groupBy("band_id", "band_key")
        .agg(F.collect_list("doc_id").alias("__ids"))
        .filter((F.size("__ids") >= 2) & (F.size("__ids") <= 64))
    )
    ids = F.col("__ids")
    old_pairs = F.flatten(
        F.transform(
            ids,
            lambda x: F.transform(
                F.filter(ids, lambda y: y > x),
                lambda y: F.struct(x.alias("id1"), y.alias("id2")),
            ),
        )
    )
    new_pairs = F.expr(
        "flatten(transform(__ids, x -> "
        "transform(filter(__ids, y -> y > x), "
        "y -> struct(x AS id1, y AS id2))))"
    )

    def pairs_df(col):
        return (
            buckets.select(F.explode(col).alias("__p"))
            .select(
                F.col("__p.id1").alias("id1"), F.col("__p.id2").alias("id2")
            )
            .distinct()
        )

    assert canon(pairs_df(old_pairs)) == canon(pairs_df(new_pairs))


def test_similarity_expr_spelling_plan_identical_to_column_form(spark):
    """r17 optimization pin: spark_dot_sql / spark_sq_norm_sql /
    spark_cosine_pre_sql (single-expr spellings, one Py4J round trip)
    must reach the SAME optimized plan as the Column-API helpers they
    replaced at the ANN call sites — same fold, same 0.0D seed, same
    cast chain — so scores are bit-identical by construction."""
    emb = spark.createDataFrame(
        [(1, "a", [1.0, 2.0, 3.0]), (2, "a", [0.5, 0.25, 8.0])],
        schema="vec_id long, label string, embedding array<double>",
    )

    def canon(df):
        return (
            df._jdf.queryExecution().optimizedPlan().canonicalized()
            .toString()
        )

    old = emb.select(sim.sq_norm(F.col("embedding")).alias("n"))
    new = emb.select(F.expr(sim.spark_sq_norm_sql("embedding")).alias("n"))
    assert canon(old) == canon(new)

    e = emb.select(
        "vec_id", "label", "embedding",
        sim.sq_norm(F.col("embedding")).alias("nsq"),
    )
    a, b = e.alias("a"), e.alias("b")
    j = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    old = j.select(
        sim.cosine_pre(
            F.col("a.embedding"), F.col("b.embedding"),
            F.col("a.nsq"), F.col("b.nsq"),
        ).alias("c")
    )
    new = j.select(
        F.expr(
            sim.spark_cosine_pre_sql(
                "a.embedding", "b.embedding", "a.nsq", "b.nsq"
            )
        ).alias("c")
    )
    assert canon(old) == canon(new)
