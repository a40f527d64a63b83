"""Golden tests for the licensing engine (J6/J7), OA flagger, dedup and
export operators over FIXTURES.md-shaped domain data — the reference's
table-driven golden-test style (test_conversions.py / test_openurl.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from siskin_spark.operators import dedup
from siskin_spark.operators.export import openurl_params, solr_export
from siskin_spark.operators.licensing import apply_oa_flag, attach_labels
from siskin_spark.operators.transforms import redact
from tests.fixtures import (
    FILTER_CONFIG,
    is_records,
    kbart_holdings,
    kbart_holdings_embargo,
)


def _labels(spark):
    recs = is_records(spark)
    out = attach_labels(recs, FILTER_CONFIG, holdings=kbart_holdings(spark))
    return {r["finc_id"]: list(r["x_labels"]) for r in out.collect()}


def test_attach_labels_golden(spark):
    got = _labels(spark)
    assert got["ai-55-c1"] == ["DE-15", "FID-BBI-DE-23"]  # holdings window hit + subject
    assert got["ai-55-c2"] == ["FID-BBI-DE-23"]  # 2024 outside 1950-2000 window
    assert got["ai-28-b1"] == ["DE-15", "FID-BBI-DE-23"]  # DOAJ branch + subject
    assert got["ai-49-a1"] == ["DE-14"]  # eissn list hit
    assert got["ai-49-a2"] == []  # no eissn -> no match


def test_attach_labels_drop_unlabeled(spark):
    recs = is_records(spark)
    out = attach_labels(
        recs, FILTER_CONFIG, holdings=kbart_holdings(spark), drop_unlabeled=True
    )
    assert sorted(r["finc_id"] for r in out.collect()) == [
        "ai-28-b1", "ai-49-a1", "ai-55-c1", "ai-55-c2",
    ]


def test_oa_flag(spark):
    recs = is_records(spark)
    oa_issns = spark.createDataFrame([("5555-6666",)], "issn string")
    out = apply_oa_flag(
        recs,
        oa_issns=oa_issns,
        free_collections=["Crossref General"],
        oa_source_ids=["105"],
        excluded_source_ids=["55"],
    )
    got = {r["finc_id"]: r["x_oa"] for r in out.collect()}
    assert got == {
        "ai-49-a1": True,   # free collection
        "ai-49-a2": True,   # free collection
        "ai-28-b1": True,   # OA ISSN
        "ai-55-c1": False,  # excluded source
        "ai-55-c2": False,
    }


def test_oa_flag_list_input_matches_dataframe_input(spark):
    # a DataFrame input is collected to the same in-memory set a
    # sequence compiles to — same verdicts on every record, including
    # null-element issn arrays and records with no issns at all
    recs = is_records(spark)
    df_out = {
        r["finc_id"]: r["x_oa"]
        for r in apply_oa_flag(
            recs,
            oa_issns=spark.createDataFrame([("5555-6666",)], "issn string"),
            free_collections=["Crossref General"],
            oa_source_ids=["105"],
            excluded_source_ids=["55"],
        ).collect()
    }
    list_out = {
        r["finc_id"]: r["x_oa"]
        for r in apply_oa_flag(
            recs,
            oa_issns=["5555-6666", None],  # None entries are dropped
            free_collections=["Crossref General"],
            oa_source_ids=["105"],
            excluded_source_ids=["55"],
        ).collect()
    }
    assert list_out == df_out
    # padding with misses past 100 and past 1,000 entries changes no
    # verdict
    small_out = {
        r["finc_id"]: r["x_oa"]
        for r in apply_oa_flag(recs, oa_issns=["5555-6666"]).collect()
    }
    for n in (101, 1001):
        big = ["5555-6666"] + [f"{i:04d}-0000" for i in range(n)]
        big_out = {
            r["finc_id"]: r["x_oa"]
            for r in apply_oa_flag(recs, oa_issns=big).collect()
        }
        assert big_out == small_out
    assert small_out["ai-28-b1"] is True


def test_doi_groupcover_chain(spark):
    """D5+J3 over domain rows: case-insensitive DOI grouping, preferred
    source keeps the label."""
    recs = is_records(spark)
    labeled = attach_labels(recs, FILTER_CONFIG, holdings=kbart_holdings(spark))
    local = labeled.select(
        F.col("finc_id"), F.col("finc_source_id"), F.col("doi"),
        F.col("x_labels").alias("labels"),
    ).filter(F.size("x_labels") > 0)
    covered = dedup.groupcover(local, key_col="doi", labels_col="labels")
    got = {r["finc_id"]: list(r["labels"]) for r in covered.collect()}
    # 10.1000/a1 vs 10.1000/A1 group: only a1 had labels -> keeps them
    assert got["ai-49-a1"] == ["DE-14"]


def test_redact(spark):
    recs = is_records(spark)
    out = redact(recs)
    assert "x_fulltext" not in out.columns


# -- embargo / volume-issue walls (ADVICE r2: these predicates had no
# coverage — every fixture value collapsed to the null-permissive True
# branch) -------------------------------------------------------------

_EMB_CONFIG = {"DE-EMB": {"holdings": {"files": ["file:kbart_emb"]}}}


def _emb_records(spark):
    import datetime

    from tests.fixtures import _rec
    from siskin_spark.schema import INTERMEDIATE_SCHEMA

    def rec(rid, issn, when, vol=None, iss=None):
        return _rec(
            finc_id=f"ai-9-{rid}", finc_record_id=rid, finc_source_id="9",
            rft_issn=[issn], x_date=when, x_labels=[],
            rft_volume=vol, rft_issue=iss,
        )

    rows = [
        # R1Y wall, now=2024-06-15 -> cutoff 2023-06-15
        rec("r-old", "1000-0001", datetime.datetime(2020, 1, 1)),   # kept
        rec("r-new", "1000-0001", datetime.datetime(2024, 1, 1)),   # walled
        # P2Y, cutoff 2022-06-15 -> ONLY newer-than-cutoff kept
        rec("p-old", "1000-0002", datetime.datetime(2020, 1, 1)),   # walled
        rec("p-new", "1000-0002", datetime.datetime(2024, 1, 1)),   # kept
        # (5,2)..(10,3) volume/issue window
        rec("v-below", "1000-0003", datetime.datetime(2000, 1, 1), "5", "1"),
        rec("v-first", "1000-0003", datetime.datetime(2000, 1, 1), "5", "2"),
        rec("v-mid", "1000-0003", datetime.datetime(2000, 1, 1), "7", "9"),
        rec("v-last", "1000-0003", datetime.datetime(2000, 1, 1), "10", "3"),
        rec("v-above", "1000-0003", datetime.datetime(2000, 1, 1), "10", "4"),
        rec("v-null", "1000-0003", datetime.datetime(2000, 1, 1)),  # permissive
    ]
    return spark.createDataFrame(rows, INTERMEDIATE_SCHEMA)


def test_kbart_embargo_and_volume_issue_walls(spark):
    import datetime

    out = attach_labels(
        _emb_records(spark),
        _EMB_CONFIG,
        holdings=kbart_holdings_embargo(spark),
        now=datetime.date(2024, 6, 15),
    )
    got = {r["finc_record_id"]: list(r["x_labels"]) for r in out.collect()}
    assert got == {
        "r-old": ["DE-EMB"], "r-new": [],
        "p-old": [], "p-new": ["DE-EMB"],
        "v-below": [], "v-first": ["DE-EMB"], "v-mid": ["DE-EMB"],
        "v-last": ["DE-EMB"], "v-above": [], "v-null": ["DE-EMB"],
    }


def test_embargo_values_require_now(spark):
    import pytest

    with pytest.raises(ValueError, match="now"):
        attach_labels(
            _emb_records(spark), _EMB_CONFIG,
            holdings=kbart_holdings_embargo(spark),
        )


def test_malformed_kbart_degrades_to_open_bounds(spark):
    # raw-TSV shape: every KBART column arrives as a string, junk mixed
    # in. Unparseable embargo/date/vol values must become null (open
    # bound / no restriction), never an ANSI cast abort mid-job.
    import datetime

    schema = (
        "file_uri string, publication_title string,"
        "print_identifier string, online_identifier string,"
        "date_first_issue_online string, date_last_issue_online string,"
        "embargo_info string, num_first_vol_online string,"
        "num_first_issue_online string, num_last_vol_online string,"
        "num_last_issue_online string"
    )
    rows = [
        # clean string-typed row: R1Y wall still enforced
        ("file:kbart_emb", "J R", "1000-0001", None,
         "1990-01-01", "2030-12-31", "R1Y", None, None, None, None),
        # junk everywhere: year-only date, garbage embargo and vols
        ("file:kbart_emb", "J X", "1000-0002", None,
         "2001", "junk", "noidea", "v5", "", "x", "?"),
    ]
    out = attach_labels(
        _emb_records(spark), _EMB_CONFIG,
        holdings=spark.createDataFrame(rows, schema),
        now=datetime.date(2024, 6, 15),
    )
    got = {r["finc_record_id"]: list(r["x_labels"]) for r in out.collect()}
    assert got["r-old"] == ["DE-EMB"] and got["r-new"] == []
    # the junk row's bounds all null -> permissive: both records match
    assert got["p-old"] == ["DE-EMB"] and got["p-new"] == ["DE-EMB"]


def test_embargo_column_all_null_needs_no_now(spark):
    # real KBART always has the embargo_info COLUMN; only parseable
    # VALUES make `now` mandatory
    got = _labels(spark)  # kbart_holdings: embargo_info all-null, no now
    assert got["ai-55-c1"] == ["DE-15", "FID-BBI-DE-23"]


def test_large_content_list_labels(spark):
    ids = [f"pad-{i}" for i in range(1500)] + ["a1"]
    config = {"DE-CT": {"content": {"list": ids}}}
    out = attach_labels(is_records(spark), config, id_col="finc_record_id")
    got = {r["finc_record_id"]: list(r["x_labels"]) for r in out.collect()}
    assert got["a1"] == ["DE-CT"]
    assert got["a2"] == []


def test_solr_export_golden(spark):
    recs = is_records(spark)
    out = solr_export(recs)
    row = {r["id"]: r for r in out.collect()}["ai-49-a1"]
    assert row["title"] == "On Sorting Networks"
    assert row["publishDate"] == "1996"
    assert row["author"] == ["Doe, J."]
    assert row["recordtype"] == "is"
    book = {r["id"]: r for r in out.collect()}["ai-55-c1"]
    assert book["title"] == "The Baroque Violin"
    assert book["author"] == ["Smith, A."]


def test_openurl_golden(spark):
    recs = is_records(spark)
    out = recs.select("finc_id", openurl_params().alias("p"))
    p = {r["finc_id"]: r["p"] for r in out.collect()}
    a1 = p["ai-49-a1"]
    assert a1["rft.genre"] == "article"
    assert a1["rft.jtitle"] == "J%20Algo"
    assert a1["rft.issn"] == "1111-2222"
    assert a1["rft_id"] == "info%3Adoi%2F10.1000%2Fa1"
    assert a1["rft.aulast"] == "Doe"
    assert "rft.btitle" not in a1
    c1 = p["ai-55-c1"]
    assert c1["rft_val_fmt"] == "info%3Aofi%2Ffmt%3Akev%3Amtx%3Abook"
    assert c1["rft.btitle"] == "The%20Baroque%20Violin"
    assert "rft.jtitle" not in c1
    # raw context-object form (the reference's params dict) on request
    raw = {
        r["finc_id"]: r["p"]
        for r in recs.select("finc_id", openurl_params(encode=False).alias("p")).collect()
    }
    assert raw["ai-49-a1"]["rft_id"] == "info:doi/10.1000/a1"
    assert raw["ai-55-c1"]["rft.btitle"] == "The Baroque Violin"


def test_openurl_percent_encoding_golden(spark):
    """Reserved characters in values must not corrupt the k=v wire
    format (reference openurl.py:164-170 urlencodes). Table-driven in
    the reference's test_openurl.py style."""
    from siskin_spark.operators.export import openurl_query_string

    recs = is_records(spark).withColumn(
        "rft_atitle",
        F.when(F.col("finc_id") == "ai-49-a1", F.lit("Q&A: 50% of a=b, plus+tilde~"))
        .otherwise(F.col("rft_atitle")),
    )
    out = {
        r["finc_id"]: r["q"]
        for r in recs.select(
            "finc_id", openurl_query_string().alias("q")
        ).collect()
    }
    q = out["ai-49-a1"]
    assert "rft.atitle=Q%26A%3A%2050%25%20of%20a%3Db%2C%20plus%2Btilde%7E" in q
    # the serialized string still splits cleanly on & and =
    piece = [p for p in q.split("&") if p.startswith("rft.atitle=")]
    assert len(piece) == 1 and piece[0].count("=") == 1
    p = {
        r["finc_id"]: r["p"]
        for r in recs.select("finc_id", openurl_params().alias("p")).collect()
    }
    assert p["ai-49-a1"]["rft.atitle"] == "Q%26A%3A%2050%25%20of%20a%3Db%2C%20plus%2Btilde%7E"


def test_snapshot_latest_doi(spark):
    """D1 over domain rows: newest x_date per lowercased DOI."""
    recs = is_records(spark).filter(F.col("doi").isNotNull())
    keyed = recs.withColumn("_doi", F.lower(F.col("doi")))
    snap = dedup.snapshot_latest(keyed, ["_doi"], ["x_date", "finc_id"])
    got = sorted(r["finc_id"] for r in snap.collect())
    assert got == ["ai-28-b1", "ai-49-a2", "ai-55-c2"]


def test_attach_labels_large_issn_list_matches_small(spark):
    """Padding an ISSN list with misses past 100 and past 1,000 entries
    changes no label. Covers records matching on rft_issn, on
    rft_eissn, and on neither."""
    recs = is_records(spark)
    hits = ["3333-4444", "7777-8888"]  # a1's eissn, c1/c2's issn
    small_cfg = {"DE-X": {"issn": {"list": hits}}}
    want = {
        r["finc_id"]: list(r["x_labels"])
        for r in attach_labels(recs, small_cfg).collect()
    }
    for n in (110, 1010):
        padding = [f"{i:04d}-999X" for i in range(n)]
        big_cfg = {"DE-X": {"issn": {"list": hits + padding}}}
        got = {
            r["finc_id"]: list(r["x_labels"])
            for r in attach_labels(recs, big_cfg).collect()
        }
        assert got == want
    assert any(v == ["DE-X"] for v in want.values())  # some record matched
    assert any(v == [] for v in want.values())  # and some did not


def _padded(values, n):
    return list(values) + [f"pad-{i}" for i in range(n)]


def test_null_leaf_is_false_at_every_list_size(spark):
    """A leaf over a NULL (array element or scalar) is false, so its
    negation is true — at every list size. Each record below carries a
    NULL where the leaf looks and nothing that matches."""
    recs = is_records(spark).withColumns(
        {
            "rft_issn": F.array(F.lit(None).cast("string")),
            "rft_eissn": F.lit(None).cast("array<string>"),
            "finc_mega_collection": F.array(F.lit(None).cast("string")),
            "subjects": F.array(F.lit(None).cast("string")),
            "rft_isbn": F.array(F.lit(None).cast("string")),
            "finc_source_id": F.lit(None).cast("string"),
            "finc_record_id": F.lit(None).cast("string"),
        }
    )
    for n in (0, 150, 1500):
        config = {
            "DE-ISSN": {"not": {"issn": {"list": _padded(["1111-2222"], n)}}},
            "DE-COLL": {"not": {"collection": _padded(["Crossref General"], n)}},
            "DE-SUBJ": {"not": {"subject": _padded(["Music"], n)}},
            "DE-ISBN": {"not": {"isbn": {"list": _padded(["978-0"], n)}}},
            "DE-SRC": {"not": {"source": _padded(["55"], n)}},
            "DE-CONT": {"not": {"content": {"list": _padded(["a1"], n)}}},
        }
        got = [list(r["x_labels"]) for r in attach_labels(recs, config).collect()]
        assert got == [sorted(config)] * 5, (n, got)
        oa = [
            r["x_oa"]
            for r in apply_oa_flag(
                recs,
                oa_issns=_padded(["1111-2222"], n),
                free_collections=["Crossref General"],
                excluded_source_ids=["55"],
            ).collect()
        ]
        assert oa == [False] * 5, (n, oa)


# -- plan shape: list leaves are row-local, holdings are one join ------


def _write(df, path):
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _plan_and_jobs(df):
    """The executed plan's text (final AQE plan) and the number of
    Spark jobs the noop write took."""
    sc = df.sparkSession.sparkContext
    group = f"lic-plan-{id(df)}"
    sc.setJobGroup(group, group)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return df._jdf.queryExecution().executedPlan().toString(), jobs


def test_list_leaves_plan_as_one_map_pass(spark, tmp_path):
    recs = _write(is_records(spark), str(tmp_path / "recs"))
    oa = spark.createDataFrame([("5555-6666",)], "issn string")
    config = {
        "DE-A": {"or": [{"source": ["49"]}, {"issn": {"list": _padded(["7777-8888"], 200)}}]},
        "DE-B": {"and": [{"collection": _padded(["JSTOR Music Archive"], 20)},
                         {"not": {"subject": ["Theory"]}}]},
        "DE-C": {"content": {"list": _padded(["a1", "b1"], 1500)}},
    }
    out = attach_labels(apply_oa_flag(recs, oa_issns=oa), config)
    plan, jobs = _plan_and_jobs(out)
    assert "Exchange" not in plan, plan  # neither shuffle nor broadcast
    assert plan.count("FileScan parquet") == 1, plan
    assert jobs == 1, jobs
    narrow = out.select("x_labels", "x_oa")  # plan text prints both
    optimized = narrow._jdf.queryExecution().optimizedPlan().toString()
    assert "INSET" in optimized, optimized  # hash-set probes, not In chains
    got = {r["finc_id"]: (list(r["x_labels"]), r["x_oa"]) for r in out.collect()}
    assert got["ai-49-a1"] == (["DE-A", "DE-C"], False)
    assert got["ai-28-b1"] == (["DE-C"], True)
    assert got["ai-55-c1"] == (["DE-A", "DE-B"], False)


def test_holdings_leaves_share_one_kbart_scan_and_broadcast(spark, tmp_path):
    recs = _write(is_records(spark), str(tmp_path / "recs"))
    kbart_path = str(tmp_path / "kbart")
    holdings = _write(kbart_holdings(spark), kbart_path)
    config = {
        "DE-15": {"holdings": {"files": ["file:kbart_de15"]}},
        "DE-14": {"holdings": {"files": ["file:kbart_de14"]}},
        "DE-ALL": {"holdings": {"files": []}},
        "DE-BOTH": {"and": [
            {"holdings": {"files": ["file:kbart_de14", "file:kbart_de15"]}},
            {"issn": {"list": _padded(["5555-6666"], 150)}},
        ]},
        "DE-NOT": {"not": {"issn": {"list": _padded(["7777-8888"], 1500)}}},
    }
    out = attach_labels(recs, config, holdings=holdings)
    plan, jobs = _plan_and_jobs(out)
    # the KBART broadcast, the two shuffle sides of the join-back, the
    # result: none of it grows with the number of leaves
    assert jobs <= 4, jobs
    assert plan.count(kbart_path.rstrip("/").split("/")[-1] + "]") == 1, plan
    assert plan.count("BroadcastExchange") == 1, plan
    got = {r["finc_id"]: list(r["x_labels"]) for r in out.collect()}
    assert got == {
        "ai-49-a1": ["DE-15", "DE-ALL", "DE-NOT"],  # 1990- window
        "ai-49-a2": ["DE-15", "DE-ALL", "DE-NOT"],
        "ai-28-b1": ["DE-14", "DE-ALL", "DE-BOTH", "DE-NOT"],
        "ai-55-c1": ["DE-15", "DE-ALL"],  # 1950-2000 window
        "ai-55-c2": [],  # 2024 outside the window
    }


def test_many_holdings_leaves_label_correctly(spark):
    """40 distinct holdings leaves use bits past 31 of the per-record
    mask; past 63 the mask gives way to leaf-index arrays. Either way
    every leaf answers as it does alone."""
    recs = is_records(spark)
    holdings = kbart_holdings(spark)
    alone = {
        real: {
            r["finc_id"]
            for r in attach_labels(
                recs, {"X": {"holdings": {"files": [real]}}}, holdings=holdings
            ).collect()
            if r["x_labels"]
        }
        for real in ("file:kbart_de15", "file:kbart_de14")
    }
    assert alone == {
        "file:kbart_de15": {"ai-49-a1", "ai-49-a2", "ai-55-c1"},
        "file:kbart_de14": {"ai-28-b1"},
    }
    for pairs in (20, 35):
        config = {
            f"P{i:02d}": {"holdings": {"files": [real, f"file:pad{i}"]}}
            for i, real in enumerate(["file:kbart_de15", "file:kbart_de14"] * pairs)
        }
        config["DE-NONE"] = {"holdings": {"files": ["file:nothing"]}}
        got = {
            r["finc_id"]: set(r["x_labels"])
            for r in attach_labels(recs, config, holdings=holdings).collect()
        }
        for isil, tree in config.items():
            want = alone.get(tree["holdings"]["files"][0], set())
            assert {fid for fid, labels in got.items() if isil in labels} == want, (
                len(config), isil,
            )
