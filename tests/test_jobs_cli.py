"""spark-submit entry points driven in-process (main() with argv):
detect_drift and remediate, the reference's promised route CLIs."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def prepared(spark, tmp_path):
    from data_drift_monitoring_spark.service import ValidationService

    clean = spark.range(200).select(
        F.col("id").cast("int").alias("id"),
        F.concat(F.lit("u"), (F.col("id") % 7).cast("string")).alias("name"),
        (F.col("id") % 50).cast("double").alias("score"),
    )
    wh = str(tmp_path / "wh")
    svc = ValidationService(spark, wh)
    svc.create_baseline(clean)
    cur_path = str(tmp_path / "cur.parquet")
    clean.withColumn("score", F.col("score") + 200.0).write.parquet(cur_path)
    return wh, cur_path


def test_detect_drift_cli(prepared, tmp_path):
    from jobs.detect_drift import main

    wh, cur = prepared
    out = str(tmp_path / "drift.json")
    rc = main(["--input", cur, "--warehouse", wh, "--out", out])
    rep = json.loads(open(out).read())
    assert rc == 2  # drift detected → nonzero exit for schedulers
    assert rep["columns"]["score"]["drift_detected"]
    assert rep["summary"]["overall_drift"]


def test_remediate_cli(prepared, tmp_path, spark):
    from jobs.remediate import main

    wh, _ = prepared
    dirty = spark.range(100).select(
        F.col("id").cast("int").alias("id"),
        F.when(F.col("id") % 2 == 0, "x").alias("name"),  # 50% nulls
        F.col("id").cast("double").alias("score"),
    )
    p = str(tmp_path / "dirty.parquet")
    dirty.write.parquet(p)
    out = str(tmp_path / "plan.json")
    rc = main(["--input", p, "--warehouse", wh, "--out", out])
    plan = json.loads(open(out).read())
    assert rc == 2 and plan["n_actions"] >= 1
    assert any(
        a["check"] == "missing_values" and a["column"] == "name"
        for a in plan["actions"]
    )


def test_sample_corpus_cli(spark, tmp_path):
    from jobs.sample_corpus import main, parse_rates

    assert parse_rates("a=0.5,b=0.1") == {"a": 0.5, "b": 0.1}
    with pytest.raises(SystemExit):
        parse_rates("a=1.5")

    corpus = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(1000)],
        "doc_id long, source string",
    )
    src = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(src)
    out = str(tmp_path / "sampled")
    rc = main(["--input", src, "--output", out, "--rates", "a=0.3"])
    assert rc == 0
    got = spark.read.parquet(out)
    by = {r.source: r["count"] for r in got.groupBy("source").count().collect()}
    assert "b" not in by  # default rate 0 drops unlisted strata
    assert 0 < by["a"] < 500
    # deterministic: a second run writes the identical row set
    main(["--input", src, "--output", out + "2", "--rates", "a=0.3"])
    ids1 = {r.doc_id for r in got.collect()}
    ids2 = {r.doc_id for r in spark.read.parquet(out + "2").collect()}
    assert ids1 == ids2


def test_check_contamination_cli(spark, tmp_path):
    from jobs.check_contamination import main

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "an entirely different training document about spark plans"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),  # leaked
            (11, "completely novel holdout words nothing shared here"),
        ],
        "doc_id long, text string",
    )
    tr_p, ev_p = str(tmp_path / "train.pq"), str(tmp_path / "eval.pq")
    train.write.parquet(tr_p)
    ev.write.parquet(ev_p)
    out = str(tmp_path / "report")
    pairs = str(tmp_path / "pairs")
    rc = main([
        "--train", tr_p, "--eval", ev_p, "--output", out,
        "--pairs", pairs, "--ngram", "3", "--min-overlap", "0.5",
    ])
    assert rc == 0
    rep = {r.eval_id: r for r in spark.read.parquet(out).collect()}
    assert rep[10]["contaminated"] == 1
    assert rep[11]["contaminated"] == 0
    att = spark.read.parquet(pairs).collect()
    assert len(att) == 1 and att[0]["train_id"] == 1 and att[0]["eval_id"] == 10


def test_dedup_corpus_cli(spark, tmp_path):
    from jobs.dedup_corpus import main

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest tonight looking happy")
    rows = [
        (1, base),
        (2, base + " extra"),                       # near-dup of 1
        (3, base.replace("quick", "swift")),        # near-dup of 1 and 2
        (4, "an entirely different document about catalyst query plans "
            "and adaptive execution with broadcast joins in spark"),
        (5, "yet another unrelated text mentioning parquet row groups "
            "column pruning and predicate pushdown statistics"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "corpus.pq")
    corpus.write.parquet(src)
    pairs = str(tmp_path / "pairs")
    clusters = str(tmp_path / "clusters")
    deduped = str(tmp_path / "deduped")
    rc = main([
        "--input", src, "--pairs", pairs, "--clusters", clusters,
        "--deduped", deduped, "--threshold", "0.5",
        "--num-hashes", "64", "--bands", "32",
    ])
    assert rc == 0
    got_pairs = {(r.a, r.b) for r in spark.read.parquet(pairs).collect()}
    assert got_pairs == {(1, 2), (1, 3), (2, 3)}
    cl = {r.k: r.cluster for r in spark.read.parquet(clusters).collect()}
    assert cl == {1: 1, 2: 1, 3: 1}
    kept = sorted(r.doc_id for r in spark.read.parquet(deduped).collect())
    assert kept == [1, 4, 5]  # min key per cluster + untouched singles


def test_filter_corpus_cli(spark, tmp_path, capsys):
    from jobs.filter_corpus import main

    rows = [
        (0, "good varied document with many distinct words here", "a"),
        (1, "spam spam spam spam spam spam spam spam", "a"),  # repetitive
        (2, "email me at x@y.io for info and details thanks", "a"),
        (3, "link https://blocked.example/x plus other words", "b"),
        (4, "another clean diverse document for the corpus", "b"),
        # an IPv4-literal host: PII redaction would rewrite it to [IPV4]
        (5, "see http://10.0.0.1/page for the quarterly numbers", "b"),
    ]
    src = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(src)
    out = str(tmp_path / "curated")
    rc = main(
        [
            "--input", src,
            "--output", out,
            "--blocklist", "blocked.example,10.0.0.1",
        ]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    kept = spark.read.parquet(out)
    ids = {r.doc_id for r in kept.collect()}
    assert 1 not in ids  # repetition filter
    assert 3 not in ids  # blocklist
    assert 5 not in ids  # blocklist, checked before redaction
    assert {0, 2, 4} <= ids
    # PII redacted in place, original preserved
    t2 = kept.filter("doc_id = 2").collect()[0]
    assert "[EMAIL]" in t2["text"]
    assert "x@y.io" in t2["text_raw"]
    assert report["rows"]["input"] == 6
    assert report["rows"]["output"] == len(ids)


def test_shard_corpus_cli(spark, tmp_path):
    from jobs.shard_corpus import main

    corpus = spark.createDataFrame(
        [(i, f"payload{i}") for i in range(2000)], "doc_id long, text string"
    )
    src = str(tmp_path / "shard_corpus.parquet")
    corpus.write.parquet(src)
    out = str(tmp_path / "shards")
    rc = main(["--input", src, "--output", out, "--n-shards", "4"])
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() == 2000
    assert got.select("shard").distinct().count() == 4
    # rerun reproduces identical shard membership AND within-shard order
    main(["--input", src, "--output", out + "2", "--n-shards", "4"])
    for shard in range(4):
        a = [
            (r.doc_id, r.sort_key)
            for r in spark.read.parquet(f"{out}/shard={shard}").collect()
        ]
        b = [
            (r.doc_id, r.sort_key)
            for r in spark.read.parquet(f"{out}2/shard={shard}").collect()
        ]
        assert a == b and a == sorted(a, key=lambda t: (t[1], t[0]))


def test_prepare_training_data_cli(spark, tmp_path):
    """End-to-end raw-docs -> shards: every stage removes what it should
    (planted exact dup, near dup, shared token span, repetitive doc) and
    the output is a loadable sharded token table."""
    from jobs.prepare_training_data import main

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "while many other words keep the document long enough for checks"
    )
    shared = "common boilerplate sentence repeated across documents verbatim here"
    rows = []
    for i in range(60):
        rows.append((f"doc{i:03d}", f"{base} unique filler {i} " + " ".join(
            f"w{i}x{j}" for j in range(30)), "web"))
    rows.append(("dup_exact", rows[0][1], "web"))            # exact dup of doc000
    rows.append(("dup_near", rows[1][1] + " tiny change", "web"))  # near dup of doc001
    rows.append(("rep_doc", "spam spam spam spam spam spam spam spam", "web"))
    rows.append(("span_a", f"{shared} plus its own distinct tail words alpha beta", "web"))
    rows.append(("span_b", f"{shared} plus another different ending gamma delta", "web"))
    rows.append(("pii_doc", base + " contact someone at leak@example.com for more", "web"))
    src = str(tmp_path / "raw.parquet")
    spark.createDataFrame(rows, "doc_id string, text string, source string").write.parquet(src)

    out = str(tmp_path / "prepared")
    rc = main([
        "--input", src, "--output", out,
        "--context-len", "64", "--n-shards", "4", "--span-k", "5",
    ])
    assert rc == 0
    got = spark.read.parquet(out)
    ids = {r.doc_id for r in got.select("doc_id").collect()}
    assert "dup_exact" not in ids          # exact dedup
    assert "dup_near" not in ids           # near-dup cluster keep-one
    assert "rep_doc" not in ids            # repetition filter
    assert "span_a" in ids and "span_b" in ids
    # the shared span survives in exactly one of the two carriers
    span_toks = {
        r.doc_id: r.n_tok
        for r in got.filter(F.col("doc_id").isin("span_a", "span_b")).collect()
    }
    assert min(span_toks.values()) < max(span_toks.values())
    # PII redaction reaches the shards: the email's word-hash token is
    # absent from pii_doc's tokens, the [EMAIL] placeholder's is present
    tok_of = lambda w: spark.sql(
        f"SELECT CAST(pmod(xxhash64('{w}'), 2147483647) AS INT) t"
    ).collect()[0]["t"]
    pii_tokens = got.filter("doc_id = 'pii_doc'").collect()[0]["tokens"]
    assert tok_of("leak@example.com") not in pii_tokens
    assert tok_of("[email]") in pii_tokens
    for col in ("tokens", "n_tok", "start_tok", "first_window",
                "n_windows", "shard", "sort_key"):
        assert col in got.columns, col
    assert got.select("shard").distinct().count() == 4
    # rerun -> byte-identical membership (deterministic end to end)
    main([
        "--input", src, "--output", out + "2",
        "--context-len", "64", "--n-shards", "4", "--span-k", "5",
    ])
    a = sorted((r.doc_id, r.shard, r.n_tok) for r in got.collect())
    b = sorted(
        (r.doc_id, r.shard, r.n_tok)
        for r in spark.read.parquet(out + "2").collect()
    )
    assert a == b


def test_score_quality_cli(spark, tmp_path):
    from jobs.score_quality import main
    from tests.test_quality_classifier import _make_corpus

    rows = _make_corpus(200, seed=23)
    seed_path = str(tmp_path / "seedset.parquet")
    spark.createDataFrame(rows, "doc_id string, text string, label int").write.parquet(seed_path)
    corpus_path = str(tmp_path / "qc_corpus.parquet")
    spark.createDataFrame(
        [(d, t) for d, t, _ in _make_corpus(100, seed=29)],
        "doc_id string, text string",
    ).write.parquet(corpus_path)

    out = str(tmp_path / "qc_scored")
    wpath = str(tmp_path / "weights.json")
    rc = main([
        "--seed-set", seed_path, "--input", corpus_path, "--output", out,
        "--filter", "--weights", wpath,
    ])
    assert rc == 0
    got = spark.read.parquet(out)
    n = got.count()
    assert 0 < n < 100                      # filtered: bad half dropped
    assert got.filter("NOT keep").count() == 0
    import json as _json

    w = _json.load(open(wpath))
    assert len(w["weights"]) == 4 and "bias" in w


def test_prepare_training_data_quality_stage(spark, tmp_path):
    """The classifier filter stage in the flagship CLI: planted
    low-quality victims are removed by the QUALITY stage specifically
    (curation is off, so nothing else can drop them), via both the
    weights-artifact path and the fit-in-pipeline path, and the rerun
    is byte-identical."""
    import json as _json

    from jobs.prepare_training_data import main
    from data_drift_monitoring_spark.operators import (
        quality_classifier as QC,
    )
    from tests.test_quality_classifier import _make_corpus

    seed_rows = _make_corpus(300, seed=31)
    seed_df = spark.createDataFrame(
        seed_rows, "doc_id string, text string, label int"
    )
    model = QC.fit_quality_classifier(seed_df, "label", seed=7)
    wpath = str(tmp_path / "weights.json")
    with open(wpath, "w") as fh:
        _json.dump(
            {
                "features": list(model.features),
                "weights": model.weights,
                "bias": model.bias,
                "mu": model.mu,
                "sigma": model.sigma,
            },
            fh,
        )

    good = [
        (f"good{i:02d}", t, "web")
        for i, (_, t, lbl) in enumerate(_make_corpus(60, seed=37))
        if lbl == 1
    ]
    junk = [
        (f"junk{i}", t, "web")
        for i, (_, t, lbl) in enumerate(_make_corpus(20, seed=41))
        if lbl == 0
    ][:3]
    src = str(tmp_path / "q_raw.parquet")
    spark.createDataFrame(
        good + junk, "doc_id string, text string, source string"
    ).write.parquet(src)

    out = str(tmp_path / "q_prepared")
    common = [
        "--input", src, "--context-len", "64", "--n-shards", "2",
        "--span-k", "5", "--no-curate", "--no-near-dedup",
    ]
    rc = main(common + ["--output", out, "--quality-weights", wpath])
    assert rc == 0
    ids = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert not any(i.startswith("junk") for i in ids)
    assert sum(1 for i in ids if i.startswith("good")) >= len(good) - 2
    # rerun with the same artifact -> byte-identical membership
    main(common + ["--output", out + "2", "--quality-weights", wpath])
    a = sorted(
        (r.doc_id, r.shard, r.n_tok)
        for r in spark.read.parquet(out).collect()
    )
    b = sorted(
        (r.doc_id, r.shard, r.n_tok)
        for r in spark.read.parquet(out + "2").collect()
    )
    assert a == b
    # fit-in-pipeline path removes the same victims
    seed_path = str(tmp_path / "q_seed.parquet")
    seed_df.write.parquet(seed_path)
    main(common + ["--output", out + "3", "--quality-seed-set", seed_path])
    ids3 = {r.doc_id for r in spark.read.parquet(out + "3").collect()}
    assert not any(i.startswith("junk") for i in ids3)
