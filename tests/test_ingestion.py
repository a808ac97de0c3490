"""End-to-end ingestion pipeline test: letter-keyed JSON fixture →
distributed flatten → clean → catalog sink → round-trip (reference
Pharma_Ingestion_Cleaning.py flow)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.pipeline import (
    clean,
    flatten_and_extract,
    price_stats,
    run_ingestion,
)
from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources.json_ingest import (
    read_letter_keyed_json,
)
from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources.rest import (
    land_dict,
)


def _med(name, lab, therapeutic, rate, refundable, form="tablet", generic="x"):
    return {
        "name": name,
        "lab": {"name": lab, "address": None, "tel": None, "web": None},
        "class": {"therapeutic": therapeutic, "pharmacological": f"{therapeutic}-ph"},
        "form": form,
        "generic": generic,
        "reference_rate": rate,
        "refundable": refundable,
    }


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    doc = {
        "A": [
            _med("ASPIRINE", "LabA", "analgesic", "120 DA", True),
            _med("AMOXIL", "LabA", "antibiotic", "450 DA", None),
        ],
        "B": [
            _med("BRUFEN", "LabB", "analgesic", "85 DA", False),
            _med("BADPRICE", "LabB", "antibiotic", "N/A", True),
            _med("BZERO", "LabB", "antibiotic", "0 DA", True),
        ],
        "C": [
            _med("CLAMOXYL", "LabC", "antibiotic", "620 DA", True),
        ],
    }
    path = str(tmp_path_factory.mktemp("landing") / "meds.json")
    return land_dict(doc, path)


def test_flatten_injects_first_letter(spark, landing):
    raw = read_letter_keyed_json(spark, landing)
    got = {(r["name"], r["first_letter"]) for r in raw.select("name", "first_letter").collect()}
    assert ("ASPIRINE", "A") in got and ("CLAMOXYL", "C") in got
    assert raw.count() == 6


def test_price_extraction_and_stats(spark, landing):
    extracted = flatten_and_extract(read_letter_keyed_json(spark, landing))
    stats = price_stats(extracted)
    assert stats.total == 6
    assert stats.null_price == 1  # 'N/A'
    assert stats.zero_price == 1  # '0 DA'
    assert stats.valid_price == 4


def test_clean_drops_invalid_and_buckets(spark, landing):
    cleaned = clean(flatten_and_extract(read_letter_keyed_json(spark, landing)))
    rows = {r["name"]: r for r in cleaned.collect()}
    assert set(rows) == {"ASPIRINE", "AMOXIL", "BRUFEN", "CLAMOXYL"}
    assert rows["BRUFEN"]["price_category"] == "Low"       # 85
    assert rows["AMOXIL"]["price_category"] == "Medium"    # 450
    assert rows["CLAMOXYL"]["price_category"] == "High"    # 620
    # tri-state preserved through the pipeline (imputation is downstream)
    assert rows["AMOXIL"]["refundable"] is None


def test_full_pipeline_roundtrip(spark, landing):
    saved, stats = run_ingestion(spark, landing, table_name="medications_test")
    assert saved.count() == stats.valid_price == 4
    assert "price_category" in saved.columns
    assert saved.filter(F.col("price") <= 0).count() == 0
    spark.sql("DROP TABLE IF EXISTS medications_test")


def test_partitioned_write_prunes_at_scan(spark, landing, tmp_path):
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.plans.audit import (
        formatted_plan,
    )
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources.sinks import (
        write_partitioned,
    )

    cleaned = clean(flatten_and_extract(read_letter_keyed_json(spark, landing)))
    out = str(tmp_path / "meds_by_letter")
    write_partitioned(cleaned, out, "first_letter")

    back = spark.read.parquet(out)
    assert back.count() == cleaned.count()
    one_letter = back.filter(F.col("first_letter") == "A")
    plan = formatted_plan(one_letter)
    # the partition predicate must prune directories, not filter rows
    assert "PartitionFilters" in plan and "first_letter" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert one_letter.count() == 2  # ASPIRINE + AMOXIL


def test_delta_available_looked_up_once_per_context(spark, py4j_calls):
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources.sinks import (
        delta_available,
    )

    first = delta_available(spark)
    with py4j_calls() as calls:
        assert delta_available(spark) is first
    assert calls[0] == 0


def test_csv_quarantine_split(spark, tmp_path):
    """Every input line lands in exactly one of good/bad; good rows are
    typed per the explicit schema; bad keeps the raw line."""
    from pyspark.sql import types as T

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        files,
    )

    p = tmp_path / "landing.csv"
    p.write_text(
        "id,name,price\n"          # header
        "1,amoxi,12.5\n"
        "2,parac,3.25\n"
        "not,a,number,extra,cols\n"  # malformed: arity + type
        "3,ibup,oops\n"              # malformed: price not a double
        "4,aspir,9.0\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    parsed = files.read_csv(spark, str(p), schema, header=True)
    good, bad = files.quarantine_split(parsed)
    g = {r.id: (r.name, r.price) for r in good.collect()}
    b = sorted(r.raw for r in bad.collect())
    assert g == {1: ("amoxi", 12.5), 2: ("parac", 3.25), 4: ("aspir", 9.0)}
    assert b == ["3,ibup,oops", "not,a,number,extra,cols"]
    assert good.count() + bad.count() == 5  # all non-header lines routed
    assert [f.dataType.simpleString() for f in good.schema.fields] == [
        "int", "string", "double",
    ]


def test_jsonl_quarantine_split(spark, tmp_path):
    from pyspark.sql import types as T

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        files,
    )

    p = tmp_path / "landing.jsonl"
    p.write_text(
        '{"id": 1, "name": "amoxi"}\n'
        "this is not json\n"
        '{"id": 2, "name": "parac"}\n'
        '{"id": "NaN-ish", "name": 7}\n'
        "\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    good, bad = files.quarantine_split(files.read_jsonl(spark, str(p), schema))
    assert {r.id for r in good.collect()} == {1, 2}
    assert bad.count() == 2  # broken line + type-mismatched record


def test_observed_read_metrics_match_routed_counts(spark, tmp_path):
    """The metrics dict must equal the actual routed counts, and the
    plan must carry the named observe node for listener-based
    telemetry.  (The Observation-object API is deliberately NOT used:
    registering one poisons the session for later closure-cleaned
    jobs — NotSerializableException: ObservationManager.)"""
    from pyspark.sql import types as T

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        files,
    )

    p = tmp_path / "obs.csv"
    p.write_text("1,a,1.0\n2,b,2.0\nbroken,row\n3,c,3.0\n")
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    good, bad, m = files.observed_read(spark, str(p), schema)
    assert m["lines"] == 4 and m["quarantined"] == 1
    assert good.count() == 3
    assert bad.count() == 1
    assert "CollectMetrics" in good._jdf.queryExecution().analyzed().toString()


# --------------------------------------------------------------------------
# Nested-field alignment regression (positional-cast swap)
# --------------------------------------------------------------------------


def test_nested_fields_align_by_name_not_position(spark, landing):
    """Nested fields align BY NAME, all-null ones included — a
    positional struct cast hands lab.name the address value and swaps
    therapeutic↔pharmacological (regression: the original reader did)."""
    raw = read_letter_keyed_json(spark, landing)
    r = {row["name"]: row for row in raw.collect()}["ASPIRINE"]
    assert r.lab.name == "LabA"
    assert r.lab.address is None  # all-null in fixture
    assert r["class"].therapeutic == "analgesic"
    assert r["class"].pharmacological == "analgesic-ph"


def test_letter_keyed_parse_matches_inference_parser(spark, landing, tmp_path):
    """The schema-declared parse gives, row for row and in order
    (letters sorted, records in document order), what the schema-
    inference parser it replaced gave.  That parser failed outright
    when letters inferred different types (an empty letter array, or a
    letter missing fields another has), so its rows for the edge
    document below are those of each non-empty letter parsed alone."""
    def fixture_row(name, lab, th, rate, refundable, letter):
        return (name, (lab, None, None, None), (th, f"{th}-ph"), "tablet", "x",
                rate, refundable, letter)

    assert [tuple(r) for r in read_letter_keyed_json(spark, landing).collect()] == [
        fixture_row("ASPIRINE", "LabA", "analgesic", "120 DA", True, "A"),
        fixture_row("AMOXIL", "LabA", "antibiotic", "450 DA", None, "A"),
        fixture_row("BRUFEN", "LabB", "analgesic", "85 DA", False, "B"),
        fixture_row("BADPRICE", "LabB", "antibiotic", "N/A", True, "B"),
        fixture_row("BZERO", "LabB", "antibiotic", "0 DA", True, "B"),
        fixture_row("CLAMOXYL", "LabC", "antibiotic", "620 DA", True, "C"),
    ]

    edge = {
        "B": [  # lab null in every record
            {"name": "BNULL1", "lab": None, "class": {"therapeutic": "t"},
             "form": "tablet", "generic": "g", "reference_rate": "85 DA",
             "refundable": False},
            {"name": "BNULL2", "lab": None, "reference_rate": None, "refundable": None},
        ],
        "A": [  # numeric rate, string "true", missing nested fields
            {"name": "ANUM", "lab": {"name": "LabA", "tel": "021"},
             "class": {"pharmacological": "ph"}, "form": "syrup", "generic": "x",
             "reference_rate": 1500, "refundable": "true"},
            {"name": "ASTR", "lab": {"name": "LabB", "address": "addr", "tel": None, "web": "w"},
             "class": {"therapeutic": "t", "pharmacological": "p"}, "form": "tablet",
             "generic": "y", "reference_rate": "120 DA", "refundable": True},
            {"name": "AMISS"},
        ],
        "C": [],
    }
    path = land_dict(edge, str(tmp_path / "edge.json"))
    nulls = (None, None, None, None)
    assert [tuple(r) for r in read_letter_keyed_json(spark, path).collect()] == [
        ("ANUM", ("LabA", None, "021", None), (None, "ph"), "syrup", "x", "1500", True, "A"),
        ("ASTR", ("LabB", "addr", None, "w"), ("t", "p"), "tablet", "y", "120 DA", True, "A"),
        ("AMISS", nulls, (None, None), None, None, None, None, "A"),
        ("BNULL1", nulls, ("t", None), "tablet", "g", "85 DA", False, "B"),
        ("BNULL2", nulls, (None, None), None, None, None, None, "B"),
    ]


_MALFORMED = {
    "html": "<html><body>502 Bad Gateway</body></html>",
    "truncated": '{"A": [{"name": "ASPIRINE", "reference_rate": "12',
    "top_level_array": '[{"name": "ASPIRINE"}]',
    "letter_not_array": '{"A": 5}',
    "record_not_object": '{"A": [5]}',
    "empty": "",
}


@pytest.mark.parametrize("kind", sorted(_MALFORMED))
def test_malformed_landing_raises(spark, tmp_path, kind):
    """A landing file that is not a letter-keyed object of record
    arrays — a fetch that wrote an error page, a truncated or empty
    download — raises instead of reading as zero rows."""
    path = tmp_path / f"{kind}.json"
    path.write_text(_MALFORMED[kind], encoding="utf-8")
    with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING|is empty"):
        read_letter_keyed_json(spark, str(path)).collect()


def test_failed_ingest_keeps_previous_table(spark, landing, tmp_path):
    """run_ingestion over a landing file that fails to parse raises and
    leaves the table of the previous run, and no staged table, behind."""
    table = "medications_keep_test"
    run_ingestion(spark, landing, table_name=table)
    try:
        for kind in ("html", "empty"):
            path = tmp_path / f"{kind}.json"
            path.write_text(_MALFORMED[kind], encoding="utf-8")
            with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING|is empty"):
                run_ingestion(spark, str(path), table_name=table)
            assert spark.table(table).count() == 4
            assert not spark.catalog.tableExists(f"{table}__staged")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# --------------------------------------------------------------------------
# Spark 4 Python DataSource (sources/pydatasource.py)
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def registered(spark):
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        pydatasource,
    )

    pydatasource.register(spark)
    return pydatasource


def test_datasource_single_file_parity(spark, landing, registered):
    """format('letterjson') on a landed document == the from_json
    reader, row for row (the DataSource moves the parse into per-letter
    tasks without changing semantics)."""
    ds = spark.read.format("letterjson").load(landing)
    ref = read_letter_keyed_json(spark, landing)
    # same names/types (nullable flags may differ: the DataSource
    # declares the contract schema)
    assert ds.schema.simpleString() == ref.schema.simpleString()
    assert sorted(map(tuple, ds.collect())) == sorted(map(tuple, ref.collect()))


def test_datasource_directory_is_file_partitioned(spark, landing, registered, tmp_path):
    """Directory landing: one file → one input partition; union of the
    per-letter documents equals the single-document read."""
    import json

    with open(landing, encoding="utf-8") as f:
        doc = json.load(f)
    d = tmp_path / "byletter"
    d.mkdir()
    for letter, meds in doc.items():
        with open(d / f"{letter}.json", "w", encoding="utf-8") as f:
            json.dump({letter: meds}, f)
    ds = spark.read.format("letterjson").load(str(d))
    assert ds.rdd.getNumPartitions() == len(doc)
    single = spark.read.format("letterjson").load(landing)
    assert sorted(map(tuple, ds.collect())) == sorted(map(tuple, single.collect()))


def test_datasource_stream_replays_landing_dir(spark, landing, registered, tmp_path):
    """Streaming side: files become micro-batches in filename order;
    an availableNow drain lands every record exactly once."""
    import glob as g
    import json
    import tempfile

    with open(landing, encoding="utf-8") as f:
        doc = json.load(f)
    src = tmp_path / "arrivals"
    src.mkdir()
    for i, (letter, meds) in enumerate(sorted(doc.items())):
        with open(src / f"{i:04d}.json", "w", encoding="utf-8") as f:
            json.dump({letter: meds}, f)

    out = str(tmp_path / "landed")
    stream = spark.readStream.format("letterjson").load(str(src))
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.streaming import (
        jobs,
    )

    jobs.foreach_batch_to_parquet(stream, out)
    got = spark.read.parquet(out + "/batch=*")
    ref = spark.read.format("letterjson").load(landing)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_datasource_stream_checkpoint_restart_continuation(
    spark, landing, registered, tmp_path
):
    """Exactly-once across restarts: a second drain with the SAME
    checkpoint resumes from committed offsets and lands only files
    that arrived after the first drain — the custom source's offset
    store round-trips through a real checkpoint."""
    import json

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.streaming import (
        jobs,
    )

    with open(landing, encoding="utf-8") as f:
        doc = json.load(f)
    letters = sorted(doc)
    src = tmp_path / "arrivals"
    src.mkdir()
    for i, letter in enumerate(letters[:2]):
        with open(src / f"{i:04d}.json", "w", encoding="utf-8") as f:
            json.dump({letter: doc[letter]}, f)

    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.format("letterjson").load(str(src))
    jobs.foreach_batch_to_parquet(stream, out, checkpoint_dir=ckpt)
    first = spark.read.parquet(out + "/batch=*").collect()
    assert {r.first_letter for r in first} == set(letters[:2])

    # a new landing file arrives; the resumed drain processes ONLY it
    with open(src / "0002.json", "w", encoding="utf-8") as f:
        json.dump({letters[2]: doc[letters[2]]}, f)
    stream2 = spark.readStream.format("letterjson").load(str(src))
    jobs.foreach_batch_to_parquet(stream2, out, checkpoint_dir=ckpt)
    rows = spark.read.parquet(out + "/batch=*").collect()
    assert {r.first_letter for r in rows} == set(letters)
    # no duplicates: every record landed exactly once across both drains
    assert len(rows) == sum(len(v) for v in doc.values())


def test_provenance_metadata_columns(spark, sf_correct):
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources.catalog import (
        load_with_provenance,
    )

    df = load_with_provenance(spark, sf_correct, "documents")
    rows = df.select("_file_name", "_file_size").distinct().collect()
    assert len(rows) == 1  # single-file fixture ⇒ one provenance value
    assert rows[0]._file_name == "documents.parquet"
    assert rows[0]._file_size > 0
    # provenance rides every row without disturbing the data columns
    assert df.count() == 500


def test_dynamic_partition_overwrite_touches_only_loaded_partitions(spark, tmp_path):
    """Re-landing one partition replaces it and ONLY it: other
    partitions' files stay byte-identical, and re-running the same
    load is idempotent."""
    import glob
    import hashlib
    import os

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources.sinks import (
        overwrite_partitions_dynamic,
        write_partitioned,
    )

    path = str(tmp_path / "part_tbl")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "id long, grp string, v double",
    )
    write_partitioned(base, path, "grp")

    def digest(pattern):
        return {
            os.path.relpath(f, path): hashlib.sha256(open(f, "rb").read()).hexdigest()
            for f in sorted(glob.glob(os.path.join(path, pattern, "*.parquet")))
        }

    b_before, c_before = digest("grp=b"), digest("grp=c")
    assert b_before and c_before

    mode_before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    reload_a = spark.createDataFrame([(1, "a", 99.0)], "id long, grp string, v double")
    overwrite_partitions_dynamic(spark, reload_a, path, "grp")
    rows = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert rows == {1: 99.0, 3: 30.0, 4: 40.0}  # grp=a replaced wholesale
    assert digest("grp=b") == b_before and digest("grp=c") == c_before

    # idempotent re-land
    overwrite_partitions_dynamic(spark, reload_a, path, "grp")
    rows2 = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert rows2 == rows
    # session conf restored (the dynamic mode stayed scoped to the write)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == mode_before


def test_datasource_writer_roundtrip_and_two_phase_commit(
    spark, landing, registered, tmp_path
):
    """Write side of the custom format: distributed round-trip equals
    the source rows; overwrite replaces instead of appending; no task
    temp files survive a committed write."""
    import os

    df = spark.read.format("letterjson").load(landing)
    out = str(tmp_path / "written")
    df.repartition(2, "first_letter").write.format("letterjson").mode(
        "overwrite"
    ).save(out)
    files = sorted(os.listdir(out))
    assert files and all(f.startswith("part-") and f.endswith(".json") for f in files)
    back = spark.read.format("letterjson").load(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # overwrite: second write replaces, never appends
    df.write.format("letterjson").mode("overwrite").save(out)
    again = spark.read.format("letterjson").load(out)
    assert again.count() == df.count()
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, df.collect()))
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]


def test_datasource_append_does_not_clobber_prior_parts(
    spark, landing, registered, tmp_path
):
    """Append mode must number new part files past the existing ones —
    reusing part-00000 silently replaced previously committed data."""
    import os

    df = spark.read.format("letterjson").load(landing)
    out = str(tmp_path / "appended")
    df.write.format("letterjson").mode("overwrite").save(out)
    first = sorted(
        f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".json")
    )
    df.write.format("letterjson").mode("append").save(out)
    second = sorted(
        f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".json")
    )
    assert set(first) < set(second)  # originals survive
    assert len(second) == 2 * len(first)
    back = spark.read.format("letterjson").load(out)
    assert back.count() == 2 * df.count()


# -- Delta table lifecycle (sources/deltaproto.py) ---------------------------
# The `test_minilake_*` names are kept so the suite's test ids stay stable.


def _delta_live(spark, path):
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    return dp._fold_delta_state(spark, path, None)[1]


def _delta_data_files(path):
    return {
        os.path.relpath(os.path.join(d, f), path)
        for d, _dirs, files in os.walk(path)
        if "_delta_log" not in d and "_change_data" not in d
        for f in files
        if f.endswith(".parquet")
    }


def _box_files(live, box):
    """Live files whose add-action stats can hold rows inside `box`
    ({col: (lo, hi)}) — the data-skipping count from the log alone."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    return sum(
        1
        for a in live.values()
        if not any(
            dp._add_outside_range(a, [], c, lo, hi) for c, (lo, hi) in box.items()
        )
    )


def test_minilake_commit_log_lifecycle(spark, tmp_path):
    """The Delta log lifecycle: append accumulates, overwrite replaces,
    EVERY prior version stays readable (time travel across overwrite
    AND compaction), a crashed writer's landed files are invisible and
    vacuumed, and vacuum(0) keeps the current snapshot readable."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "lake")
    df1 = spark.range(100).withColumn("v", F.col("id") * 2)
    df2 = spark.range(100, 150).withColumn("v", F.col("id") * 2)

    v0 = dp.write_delta(df1.repartition(4), path)
    v1 = dp.write_delta(df2.repartition(2), path)
    assert (v0, v1) == (0, 1)
    assert dp.read_delta(spark, path).count() == 150
    assert dp.read_delta(spark, path, version=0).count() == 100

    # overwrite: new snapshot, old still travelable
    df3 = spark.range(7).withColumn("v", F.lit(0).cast("long"))
    v2 = dp.write_delta(df3, path, mode="overwrite")
    assert dp.read_delta(spark, path).count() == 7
    assert dp.read_delta(spark, path, version=v1).count() == 150

    # compaction: same rows, pre-compaction versions intact
    dp.compact_delta(spark, path, target_mb=512)
    snap = dp.read_delta(spark, path)
    assert snap.count() == 7
    assert dp.read_delta(spark, path, version=v2).count() == 7
    assert dp.read_delta(spark, path, version=v1).count() == 150
    assert [h["operation"] for h in dp.delta_history(path)] == [
        "WRITE", "WRITE", "WRITE", "OPTIMIZE",
    ]

    # crashed writer: data files landed, no commit → invisible
    dp._land_parquet(spark.range(999), path, None)
    assert dp.read_delta(spark, path).count() == 7

    n_files_before = len(_delta_data_files(path))
    # min_age_s=0: the test's 'orphans' are seconds old; production
    # default spares young files for in-flight writers
    deleted = dp.vacuum_delta(spark, path, retain_versions=0, min_age_s=0)
    assert deleted > 0
    assert len(_delta_data_files(path)) == n_files_before - deleted
    # current snapshot survives vacuum
    assert sorted(map(tuple, snap.collect())) == sorted(
        map(tuple, dp.read_delta(spark, path).collect())
    )


def test_minilake_empty_and_version_claim(spark, tmp_path):
    """Empty overwrite keeps the schema readable; version claims are
    strictly sequential even when a stale temp commit file lingers."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "lake2")
    df = spark.range(5).withColumn("v", F.col("id") + 1)
    dp.write_delta(df, path)
    dp.write_delta(df.limit(0), path, mode="overwrite")
    empty = dp.read_delta(spark, path)
    assert empty.count() == 0
    # names + types survive the log round-trip (nullability is not
    # preserved by parquet reads either, so it is not part of the law)
    assert [(f.name, f.dataType) for f in empty.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]
    assert dp.read_delta(spark, path, version=0).count() == 5
    assert dp.delta_versions(path) == [0, 1]
    # a crashed writer's temp commit file is not a version
    with open(os.path.join(path, "_delta_log", "_commit-stale.json.tmp"), "w") as f:
        f.write("{}\n")
    assert dp.write_delta(df, path) == 2
    assert dp.delta_versions(path) == [0, 1, 2]


def test_minilake_schema_enforcement_and_evolution(spark, tmp_path):
    """Write-time schema contract: type changes are rejected loudly; a
    missing column reads back as NULL for the appended rows; new
    columns require merge_schema=True and read back as NULL for
    pre-evolution files (merged snapshot schema)."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "lake3")
    base = spark.range(10).withColumn("v", F.col("id") * 2)
    dp.write_delta(base, path)

    with pytest.raises(ValueError, match="table schema says bigint"):
        dp.write_delta(base.withColumn("v", F.col("v").cast("string")), path)
    evolved = base.withColumn("lang", F.lit("en"))
    with pytest.raises(ValueError, match="merge_schema"):
        dp.write_delta(evolved, path)
    dp.write_delta(base.drop("v"), path)
    assert dp.read_delta(spark, path).filter(F.col("v").isNull()).count() == 10

    dp.write_delta(evolved, path, merge_schema=True)
    snap = dp.read_delta(spark, path)
    assert set(snap.columns) == {"id", "v", "lang"}
    assert snap.count() == 30
    assert snap.filter(F.col("lang").isNull()).count() == 20  # old files


def test_minilake_zone_maps_skip_files_and_prune_merge(spark, tmp_path):
    """Per-file stats land in the add actions; a selective range read
    scans ONLY overlapping files (skip count proves it, from the log
    alone); MERGE rewrites only the files whose key range can contain
    an update — untouched files keep their exact names in the log — and
    produces upsert-correct rows."""
    import json

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "zoned")
    # 4 files with disjoint id ranges via range-partitioned write
    df = spark.range(1000).withColumn("v", F.col("id") * 10)
    dp.write_delta(df.repartitionByRange(4, "id"), path)
    live = _delta_live(spark, path)
    assert len(live) == 4 and all(
        "id" in json.loads(a["stats"])["minValues"] for a in live.values()
    )

    pruned, n_read, n_skipped = dp.read_delta_pruned(spark, path, "id", 10, 20)
    assert n_read == 1 and n_skipped == 3
    assert pruned.count() == 11
    assert pruned.agg(F.min("id"), F.max("id")).first() == (10, 20)

    # merge touching only the low range: 3 files survive untouched
    updates = spark.range(5).withColumn("v", F.lit(-1).cast("long"))
    dp.merge_upsert_delta(spark, updates, path, "id")
    after = set(_delta_live(spark, path))
    assert len(set(live) & after) == 3  # untouched files carried by name
    snap = dp.read_delta(spark, path)
    assert snap.count() == 1000
    assert snap.filter(F.col("v") == -1).count() == 5
    assert snap.filter((F.col("id") < 5) & (F.col("v") != -1)).count() == 0
    # merge commit carries stats too → skipping still works
    _, n_read2, n_skipped2 = dp.read_delta_pruned(spark, path, "id", 900, 950)
    assert n_read2 == 1 and n_skipped2 >= 3


def test_minilake_zorder_layout_skips_in_both_dimensions(spark, tmp_path):
    """Layout × stats: a LINEAR sort gives tight ranges on its sort
    column only (a predicate on the other column skips nothing); the
    Z-ORDER layout gives usably tight ranges on BOTH, so the same
    predicate skips most files — the OPTIMIZE ZORDER BY payoff,
    measured from the log alone."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.functions.scale import (
        zorder_key_2d,
    )
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    n, files = 4096, 16
    base = (
        spark.range(n)
        .withColumn("x", F.col("id") % 1000)
        .withColumn("y", F.pmod(F.xxhash64("id"), F.lit(1000)))
    )

    linear = str(tmp_path / "linear")
    dp.write_delta(base.repartitionByRange(files, "x"), linear)
    lin_df, lin_read, lin_skip = dp.read_delta_pruned(spark, linear, "y", 0, 99)

    zord = str(tmp_path / "zord")
    zkey = zorder_key_2d(F.col("x"), F.col("y"), 0, 1000, 0, 1000)
    dp.write_delta(
        base.withColumn("z", zkey).repartitionByRange(files, "z").drop("z"),
        zord,
    )
    z_df, z_read, z_skip = dp.read_delta_pruned(spark, zord, "y", 0, 99)

    # identical answers, very different file counts
    assert sorted(map(tuple, lin_df.collect())) == sorted(map(tuple, z_df.collect()))
    assert lin_skip + lin_read == z_skip + z_read == files
    # linear-by-x: y is unclustered → every file's y-range spans the
    # predicate → zero skipping.  z-order: y participates in the key →
    # most files' y-ranges miss the 10% band.
    assert lin_skip == 0
    assert z_skip > files // 2
    # and the 2-D box stays cheap on the z layout
    box = {"x": (0, 99), "y": (0, 99)}
    assert _box_files(_delta_live(spark, zord), box) <= files // 2


def test_minilake_checkpoint_bounds_log_replay(spark, tmp_path, monkeypatch):
    """Delta's checkpoint rule (`delta.checkpointInterval`): every N
    commits the folded state is written next to the log, and readers
    fold checkpoint + tail instead of replaying from version 0 —
    snapshot-construction cost is O(tail), not O(history).  Correctness
    is unchanged for current reads, time travel BEFORE the checkpoint,
    and a torn `_last_checkpoint` hint."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "ck_lake")

    def batch(i):
        return spark.range(i * 10, (i + 1) * 10).withColumn("v", F.col("id") % 3)

    dp.write_delta(batch(0), path)
    dp.set_delta_properties(spark, path, {"delta.checkpointInterval": "5"})
    for i in range(1, 12):
        dp.write_delta(batch(i), path)  # versions 2..12

    assert dp._checkpoint_versions(path) == [5, 10]
    assert dp.read_delta(spark, path).count() == 120

    # a fresh fold reads ONLY the commits after the newest checkpoint
    seen = []
    orig = dp._read_actions

    def counting(p, v):
        seen.append(v)
        return orig(p, v)

    monkeypatch.setattr(dp, "_read_actions", counting)
    _meta, live, _v = dp._fold_delta_state(spark, path, None)
    assert set(seen) == {11, 12}
    monkeypatch.setattr(dp, "_read_actions", orig)

    # the checkpointed fold equals a from-scratch fold
    monkeypatch.setattr(dp, "_last_checkpoint", lambda *a, **k: None)
    _m, scratch, _sv = dp._fold_delta_state(spark, path, None)
    assert set(live) == set(scratch)
    monkeypatch.undo()

    # time travel to a version before any checkpoint still folds right
    assert dp.read_delta(spark, path, version=3).count() == 30

    # a torn checkpoint hint is skipped, never fatal: readers fall back
    with open(os.path.join(path, "_delta_log", "_last_checkpoint"), "w") as f:
        f.write('{"version": 10')  # truncated json
    assert set(_delta_live(spark, path)) == set(scratch)
    assert dp.read_delta(spark, path).count() == 120


def test_minilake_checkpoint_carries_stream_ids(spark, tmp_path):
    """The exactly-once txn state survives checkpointing: a replayed
    micro-batch is still a no-op when its commit is only reachable
    through the checkpoint (the JSON commits before it cleaned up)."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "ck_stream_lake")
    df = spark.range(4).withColumn("v", F.lit(1))
    for b in range(6):
        assert dp.write_delta(df, path, txn=("stream", b)) == b
    dp.write_delta_checkpoint(spark, path)
    dp.cleanup_delta_log(path, retain_versions=0)
    assert dp.delta_versions(path) == [5]
    assert dp.delta_txn_versions(spark, path) == {"stream": 5}
    # batch 2's commit is inside the checkpointed prefix — replay no-ops
    assert dp.write_delta(df, path, txn=("stream", 2)) == 5
    assert dp.read_delta(spark, path).count() == 24


def test_minilake_delete_where_prunes_files(spark, tmp_path):
    """Stats-pruned DELETE: only files whose key range can contain the
    predicate are rewritten; the rest keep their names in the log.  The
    pre-delete snapshot stays time-travelable, the commit's change feed
    is exactly the deleted rows, a rewrite that comes back empty
    commits no zero-row parquet, and a delete that matches no row
    commits nothing."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "del_lake")
    base = spark.range(1000).withColumn("v", F.col("id") % 7)
    dp.write_delta(base.repartitionByRange(10, "id"), path)
    before = set(_delta_live(spark, path))

    v = dp.delete_where_delta(spark, path, "id", 100, 199)
    after = set(_delta_live(spark, path))
    # stats proved most files untouched — byte-identical, same names
    assert len(before & after) >= 7
    snap = dp.read_delta(spark, path)
    assert snap.count() == 900
    assert snap.filter(F.col("id").between(100, 199)).count() == 0
    # pre-delete snapshot still readable until vacuum
    assert dp.read_delta(spark, path, version=0).count() == 1000
    # the delete's change feed is exactly the removed rows
    feed = dp.read_changes_delta(spark, path, v, v).collect()
    assert {r["_change_type"] for r in feed} == {"delete"}
    assert sorted(r["id"] for r in feed) == list(range(100, 200))

    # stats overlap a file but no row matches: nothing to commit
    assert dp.delete_where_delta(spark, path, "id", 250, 250) == v + 1
    assert dp.delete_where_delta(spark, path, "id", 250, 250) == v + 1

    # deleting every remaining row commits no add (no zero-row files)
    n_live = len(_delta_live(spark, path))
    v = dp.delete_where_delta(spark, path, "id", -1, 2000)
    actions = dp._read_actions(path, v)
    assert dp.delta_history(path)[-1]["operation"] == "DELETE"
    assert not [a for a in actions if "add" in a]
    assert len([a for a in actions if "remove" in a]) == n_live
    assert dp.read_delta(spark, path).count() == 0

    # predicate outside every file's range: provable no-op, version unchanged
    assert dp.delete_where_delta(spark, path, "id", 5000, 6000) == v


def test_minilake_optimize_zorder_upgrades_layout_in_place(spark, tmp_path):
    """OPTIMIZE ZORDER BY as a commit: a table appended linear-by-x
    (y unclustered → zero y-skipping) is rewritten along the Morton
    curve in place — the same y predicate then skips most files, rows
    are unchanged, and the pre-optimize version stays travelable."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "zopt_lake")
    files = 16
    base = (
        spark.range(4000)
        .withColumn("x", (F.col("id") % 1000).cast("double"))
        .withColumn("y", F.pmod(F.xxhash64("id"), F.lit(1000)).cast("double"))
        .drop("id")
    )
    dp.write_delta(base.repartitionByRange(files, "x"), path)
    lin_df, lin_read, lin_skip = dp.read_delta_pruned(spark, path, "y", 0.0, 99.0)
    assert lin_skip == 0  # linear-by-x: every file spans all of y

    v = dp.optimize_zorder_delta(spark, path, "x", "y", n_files=files)
    z_df, z_read, z_skip = dp.read_delta_pruned(spark, path, "y", 0.0, 99.0)
    assert z_skip > files // 2
    assert sorted(map(tuple, lin_df.collect())) == sorted(
        map(tuple, z_df.collect())
    )
    assert dp.read_delta(spark, path).count() == 4000
    assert dp.read_delta(spark, path, version=v - 1).count() == 4000
    assert z_read + z_skip == files
    assert dp.delta_history(path)[-1]["operation"] == "OPTIMIZE"

    # 2-D box on the z layout touches a minority of files
    box = {"x": (0.0, 99.0), "y": (0.0, 99.0)}
    assert _box_files(_delta_live(spark, path), box) <= files // 2


def test_minilake_optimize_zorder_aborts_on_concurrent_commit(
    spark, tmp_path, monkeypatch, race_before_claim
):
    """A commit that lands between OPTIMIZE's snapshot read and its
    claim never loses rows: a racing DELETE of rows in the files
    OPTIMIZE rewrites aborts the rewrite (committing it would resurrect
    them), while a racing APPEND commutes and survives."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "zrace_lake")
    df = spark.range(100).withColumn("x", F.col("id").cast("double")).withColumn(
        "y", F.col("id").cast("double")
    ).drop("id")
    dp.write_delta(df, path)

    raced = race_before_claim(
        "OPTIMIZE",
        lambda p: dp.delete_where_delta(spark, p, "x", 0.0, 4.0),
    )
    with pytest.raises(dp.ConcurrentDeltaCommit):
        dp.optimize_zorder_delta(spark, path, "x", "y", n_files=4)
    assert raced["done"]
    monkeypatch.undo()
    # the concurrent delete held; optimize committed nothing
    assert dp.read_delta(spark, path).count() == 95
    assert [h["operation"] for h in dp.delta_history(path)] == ["WRITE", "DELETE"]

    extra = (
        spark.range(5)
        .withColumn("x", F.lit(0.0))
        .withColumn("y", F.lit(0.0))
        .drop("id")
    )
    race_before_claim("OPTIMIZE", lambda p: dp.write_delta(extra, p))
    dp.optimize_zorder_delta(spark, path, "x", "y", n_files=4)
    monkeypatch.undo()
    assert dp.read_delta(spark, path).count() == 100
    assert [h["operation"] for h in dp.delta_history(path)][-2:] == [
        "WRITE", "OPTIMIZE",
    ]


def test_minilake_restore_is_log_only_and_vacuum_aware(spark, tmp_path):
    """RESTORE TO VERSION: undoing an overwrite is a pure log commit —
    no data files are written or moved, stats ride along for the
    re-added files, the restore itself is travelable, and restoring to
    a vacuumed version fails loudly instead of returning a torn
    table."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "restore_lake")
    df1 = spark.range(100).withColumn("v", F.col("id") * 2)
    df2 = spark.range(100, 140).withColumn("v", F.col("id") * 2)
    dp.write_delta(df1, path)
    v1 = dp.write_delta(df2, path)
    dp.write_delta(
        spark.range(3).withColumn("v", F.lit(0).cast("long")), path, mode="overwrite"
    )
    assert dp.read_delta(spark, path).count() == 3

    n_data_files = len(_delta_data_files(path))
    rv = dp.restore_delta(spark, path, v1)
    # log-only: not a single data file added
    assert len(_delta_data_files(path)) == n_data_files
    assert dp.read_delta(spark, path).count() == 140
    assert dp.delta_history(path)[-1]["operation"] == "RESTORE"
    # stats survive the round trip: pruned read still skips
    _, n_read, n_skipped = dp.read_delta_pruned(spark, path, "id", 0, 10)
    assert n_skipped > 0
    # the overwrite state is itself still travelable
    assert dp.read_delta(spark, path, version=rv - 1).count() == 3

    # vacuum away history, then try to restore to it: loud failure
    dp.write_delta(
        spark.range(5).withColumn("v", F.lit(1).cast("long")), path, mode="overwrite"
    )
    dp.vacuum_delta(spark, path, retain_versions=0, min_age_s=0)
    with pytest.raises(ValueError, match="vacuumed"):
        dp.restore_delta(spark, path, v1)
    assert dp.read_delta(spark, path).count() == 5


def test_minilake_delete_where_keeps_nulls_and_nops_zero_match(spark, tmp_path):
    """NULL-keyed rows survive a range delete (SQL three-valued logic),
    a delete whose stats prove no file can match is a commit-free
    no-op, the table schema keeps evolved columns that live only in
    untouched files, compaction re-records stats, and z-order on an
    empty snapshot is a no-op."""
    import json

    from pyspark.sql import types as T

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "del2_lake")
    base = spark.createDataFrame(
        [(10, "a"), (20, "b"), (None, "null-row"), (500, "far")],
        T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("s", T.StringType()),
            ]
        ),
    )
    dp.write_delta(base.coalesce(1), path)

    # predicate outside the file's k-range [10, 500]: commit-free no-op
    assert dp.delete_where_delta(spark, path, "k", 600, 700) == 0
    assert dp.delta_versions(path) == [0]
    assert dp.read_delta(spark, path).count() == 4

    # NULL row survives a real delete over its file
    dp.delete_where_delta(spark, path, "k", 0, 99)
    rows = {r.s for r in dp.read_delta(spark, path).collect()}
    assert rows == {"null-row", "far"}

    # schema keeps evolved column living only in an untouched file
    evolved = spark.createDataFrame(
        [(1000, "w-row", 7.5)], "k long, s string, w double"
    )
    dp.write_delta(evolved, path, merge_schema=True)
    dp.delete_where_delta(spark, path, "k", 400, 600)  # touches only 'far'
    assert dp.delta_history(path)[-1]["operation"] == "DELETE"
    meta = dp._fold_delta_state(spark, path, None)[0]
    names = [f["name"] for f in json.loads(meta["schemaString"])["fields"]]
    assert "w" in names
    snap = dp.read_delta(spark, path)
    assert {r.s for r in snap.collect()} == {"null-row", "w-row"}

    # compact re-records stats for the rewritten file
    dp.compact_delta(spark, path, target_mb=512)
    live = _delta_live(spark, path)
    assert live and all(
        "k" in json.loads(a["stats"])["minValues"] for a in live.values()
    )
    assert {r.s for r in dp.read_delta(spark, path).collect()} == {
        "null-row", "w-row",
    }

    # delete everything, then optimize on the empty snapshot: clean no-op
    dp.delete_where_delta(spark, path, "k", -10**9, 10**9)
    # (NULL row survives even the full-range delete, per SQL semantics)
    assert {r.s for r in dp.read_delta(spark, path).collect()} == {"null-row"}
    dp.write_delta(dp.read_delta(spark, path).limit(0), path, mode="overwrite")
    v_now = dp.delta_versions(path)[-1]
    assert dp.optimize_zorder_delta(spark, path, "k", "k") == v_now


def test_minilake_delete_where_aborts_on_concurrent_rewrite(
    spark, tmp_path, monkeypatch, race_before_claim
):
    """A compact that lands between delete_where_delta's snapshot read
    and its claim must abort the delete — committing the stale remove
    list would resurrect deleted rows out of the compacted file."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "del_race_lake")
    base = spark.range(100).withColumn("v", F.col("id") % 5)
    dp.write_delta(base.repartition(4), path)

    raced = race_before_claim(
        "DELETE",
        lambda p: dp.compact_delta(spark, p, target_mb=512),
    )
    with pytest.raises(dp.ConcurrentDeltaCommit):
        dp.delete_where_delta(spark, path, "id", 0, 49)
    assert raced["done"]
    monkeypatch.undo()
    # nothing deleted, compacted table intact
    assert dp.read_delta(spark, path).count() == 100
    assert dp.delta_history(path)[-1]["operation"] == "OPTIMIZE"


def test_minilake_concurrent_appends_all_win_distinct_versions(spark, tmp_path):
    """Optimistic concurrency under real contention: 8 threads append
    simultaneously; every commit must land under a DISTINCT version
    (the os.link put-if-absent makes losers retry at the next number)
    and the final snapshot holds every writer's rows exactly once."""
    import concurrent.futures

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "conc_lake")
    n_writers = 8

    def append(i: int) -> int:
        df = spark.range(i * 100, (i + 1) * 100).withColumn(
            "writer", F.lit(i)
        )
        return dp.write_delta(df.coalesce(1), path)

    with concurrent.futures.ThreadPoolExecutor(max_workers=n_writers) as ex:
        got = sorted(ex.map(append, range(n_writers)))

    assert got == list(range(n_writers))  # distinct, gapless versions
    assert dp.delta_versions(path) == got
    snap = dp.read_delta(spark, path)
    assert snap.count() == n_writers * 100
    assert snap.select("id").distinct().count() == n_writers * 100
    per_writer = {
        r.writer: r.n
        for r in snap.groupBy("writer").agg(F.count("*").alias("n")).collect()
    }
    assert per_writer == {i: 100 for i in range(n_writers)}


def test_minilake_describe_detail_reads_only_the_log(spark, tmp_path):
    """DESCRIBE DETAIL reports the operational vitals (files, bytes,
    partitioning, protocol) from the log alone — it still answers with
    every data file gone — next to the checkpoint and txn state."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    path = str(tmp_path / "detail_lake")
    df = spark.range(50).withColumn("v", F.col("id"))
    dp.write_delta(df.coalesce(1), path)
    dp.set_delta_properties(spark, path, {"delta.checkpointInterval": "2"})
    dp.write_delta(df.coalesce(1), path)
    dp.write_delta(df.coalesce(1), path, txn=("stream", 0))

    for f in _delta_data_files(path):
        os.remove(os.path.join(path, f))
    d = dp.read_delta_meta(spark, path, "detail").first()
    assert d["numFiles"] == 3 and d["sizeInBytes"] > 0
    assert d["partitionColumns"] == "[]"
    assert (d["minReaderVersion"], d["minWriterVersion"]) == (1, 2)
    assert dp.delta_versions(path)[-1] == 3
    assert dp._checkpoint_versions(path) == [2]
    assert dp.delta_txn_versions(spark, path) == {"stream": 0}
