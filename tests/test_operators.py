"""Operator-level tests: differential sessionization, lang-id sanity,
LSH recall vs brute force."""

from __future__ import annotations

import datetime as dt
import random

import pytest

from pyspark.sql import functions as F

from clickstreaming_end_to_end_data_engineering_project_spark.functions.udfs import register_udfs
from clickstreaming_end_to_end_data_engineering_project_spark.operators.sessions import (
    sessionize,
    sessionize_via_lag,
)
from clickstreaming_end_to_end_data_engineering_project_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from clickstreaming_end_to_end_data_engineering_project_spark.operators.text import (
    lang_id_heuristic,
)
from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load


def test_sessionize_equals_lag_formulation_random(spark):
    """Differential: native session_window == lag/cumsum islands on
    adversarial random data (bursts, exact-gap spacing, multi-user)."""
    rng = random.Random(1234)
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user in range(25):
        t = base + dt.timedelta(seconds=rng.randint(0, 3600))
        for _ in range(rng.randint(1, 60)):
            rows.append((eid, t, user))
            eid += 1
            # mix sub-gap, near-gap, exactly-gap and super-gap deltas
            delta = rng.choice([1, 60, 1799, 1800, 1801, 7200])
            t = t + dt.timedelta(seconds=delta, microseconds=rng.randint(0, 999999))
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id"])
    native = {tuple(r) for r in sessionize(df, "ts", "user_id").collect()}
    viasql = {tuple(r) for r in sessionize_via_lag(df, "ts", "user_id", 1800, "event_id").collect()}
    assert native == viasql


def test_udf_registration_and_sql_call(spark, sf_dir):
    register_udfs(spark)
    load(spark, sf_dir, "documents").createOrReplaceTempView("_docs_udf")
    row = spark.sql(
        "SELECT max(token_count(text)) AS mx, count(*) AS n FROM _docs_udf"
    ).collect()[0]
    assert row["mx"] > 0 and row["n"] > 0
    load(spark, sf_dir, "embeddings").createOrReplaceTempView("_emb_udf")
    norms = spark.sql("SELECT vector_norm(embedding) AS nrm FROM _emb_udf LIMIT 5").collect()
    assert all(r["nrm"] > 0 for r in norms)


def test_grouped_agg_pandas_udf_matches_expression_twin(spark, sf_dir):
    """UDAF tier: geo_mean (grouped-agg pandas UDF) vs the pure
    expression formulation exp(avg(ln(x))) — numpy and JVM accumulate
    in different orders, so compare to 1e-9 relative tolerance."""
    import math

    from clickstreaming_end_to_end_data_engineering_project_spark.functions.udfs import geo_mean

    docs = load(spark, sf_dir, "documents")
    got = {
        r["lang"]: r["gm"]
        for r in docs.groupBy("lang").agg(geo_mean("n_chars").alias("gm")).collect()
    }
    exp = {
        r["lang"]: r["gm"]
        for r in docs.groupBy("lang")
        .agg(F.exp(F.avg(F.log(F.col("n_chars").cast("double")))).alias("gm"))
        .collect()
    }
    assert set(got) == set(exp) and len(got) > 1
    for lang, g in got.items():
        assert math.isclose(g, exp[lang], rel_tol=1e-9), (lang, g, exp[lang])


def test_udtf_lateral_join(spark):
    """UDTF tier: split_sentences drives a LATERAL join from SQL."""
    from clickstreaming_end_to_end_data_engineering_project_spark.functions.udfs import (
        register_udfs,
    )

    register_udfs(spark)
    spark.createDataFrame(
        [(1, "first sentence. second one. "), (2, ""), (3, "only one")],
        ["doc_id", "text"],
    ).createOrReplaceTempView("_docs_udtf")
    rows = spark.sql(
        "SELECT doc_id, s.pos, s.sentence FROM _docs_udtf, "
        "LATERAL split_sentences(text) s ORDER BY doc_id, s.pos"
    ).collect()
    assert [(r["doc_id"], r["pos"], r["sentence"]) for r in rows] == [
        (1, 0, "first sentence"),
        (1, 1, "second one"),
        (3, 0, "only one"),
    ]


def test_lang_id_runs_and_is_deterministic(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["predicted_lang"] for r in lang_id_heuristic(docs).collect()}
    b = {r["doc_id"]: r["predicted_lang"] for r in lang_id_heuristic(docs).collect()}
    assert a == b and len(a) == docs.count()


def test_lsh_results_subset_of_bruteforce_universe(spark, sf_dir):
    """LSH top-k returns real neighbors (cos values match brute force
    for the ids it returns) — recall may be < 1, correctness must not."""
    embs = load(spark, sf_dir, "embeddings")
    exact = {r["vec_id"]: r["cos_sim"] for r in brute_force_topk(embs, 0, k=500).collect()}
    approx = lsh_topk(embs, 0, k=10).collect()
    assert len(approx) > 0
    for r in approx:
        assert abs(exact[r["vec_id"]] - r["cos_sim"]) < 1e-12


def test_lsh_indexed_probe_prunes_partitions_and_matches_on_the_fly(spark, sf_dir, tmp_path):
    """The written-layout LSH variant the lsh_topk docstring promises:
    write_lsh_index partitions the corpus by bucket; lsh_topk_indexed
    must (a) return exactly what the on-the-fly lsh_topk returns for
    the same (planes, dims), and (b) scan ONLY the query's bucket —
    the bucket literal must appear in the parquet scan's
    PartitionFilters, the physical proof the probe reads 1/2^planes
    of a corpus at any scale."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.similarity import (
        lsh_topk_indexed,
        write_lsh_index,
    )

    embs = load(spark, sf_dir, "embeddings")
    path = str(tmp_path / "lsh_index")
    write_lsh_index(embs, path, planes=4, dims=64)

    probe = lsh_topk_indexed(spark, path, 0, k=10)
    got = [(r["vec_id"], r["cos_sim"]) for r in probe.collect()]
    want = [(r["vec_id"], r["cos_sim"]) for r in lsh_topk(embs, 0, k=10).collect()]
    assert [v for v, _ in got] == [v for v, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) < 1e-12

    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:200]
    assert "lsh_bucket" in seg, f"bucket predicate must be a partition filter: {seg}"

    # explicit-vector probe (the out-of-corpus ANN-serving form): the
    # bucket comes from the index's stored params, no corpus lookup —
    # same results when pointed at the same vector
    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    got_vec = [
        (r["vec_id"], r["cos_sim"])
        for r in lsh_topk_indexed(
            spark, path, query_vec_id=0, k=10, query_vec=qvec
        ).collect()
    ]
    assert got_vec == got


def test_lsh_multiprobe_recall_and_exhaustive_parity(spark, sf_dir, tmp_path):
    """Query-directed multi-probe (Lv et al. 2007): (a) nprobe=1 is
    bit-identical to the single-bucket probe; (b) recall@10 vs exact
    cosine is monotone in nprobe on the fixture; (c) probing ALL
    2^planes buckets IS brute-force cosine (exhaustive parity — the
    same pin the IVFPQ family carries); (d) the multi-bucket predicate
    is still a PartitionFilter, with the executed scan reading files
    from at most nprobe bucket directories."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk_indexed,
        write_lsh_index,
    )

    embs = load(spark, sf_dir, "embeddings")
    path = str(tmp_path / "lsh_index")
    write_lsh_index(embs, path, planes=4, dims=64)
    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact = [
        (r["vec_id"], r["cos_sim"]) for r in brute_force_topk(embs, 0, k=10).collect()
    ]
    exact_ids = {v for v, _ in exact}

    single = lsh_topk_indexed(
        spark, path, query_vec_id=0, k=10, query_vec=qvec
    ).collect()
    multi1 = lsh_topk_indexed(
        spark, path, query_vec_id=0, k=10, query_vec=qvec, nprobe=1
    ).collect()
    assert [tuple(r) for r in multi1] == [tuple(r) for r in single]

    recalls = []
    for nprobe in (1, 4, 16):
        rows = lsh_topk_indexed(
            spark, path, query_vec_id=0, k=10, query_vec=qvec, nprobe=nprobe
        ).collect()
        recalls.append(len({r["vec_id"] for r in rows} & exact_ids) / 10)
    assert recalls == sorted(recalls), f"recall must be monotone in nprobe: {recalls}"

    # exhaustive parity: all 16 buckets == brute force, bit for bit
    allb = lsh_topk_indexed(
        spark, path, query_vec_id=0, k=10, query_vec=qvec, nprobe=16
    ).collect()
    assert [v for v, _ in exact] == [r["vec_id"] for r in allb]
    for (_, a), r in zip(exact, allb):
        assert abs(a - r["cos_sim"]) < 1e-12
    assert recalls[-1] == 1.0

    # pruning: executed scan touches ≤ nprobe bucket dirs (the skill
    # gotcha: inputFiles() reports the unfiltered index — use the
    # executed input_file_name set + a PartitionFilters grep)
    probe4 = lsh_topk_indexed(
        spark, path, query_vec_id=0, k=10, query_vec=qvec, nprobe=4
    )
    plan = probe4._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters", 1)[1][:200]
    assert "lsh_bucket" in seg, f"bucket isin must be a partition filter: {seg}"
    idx = spark.read.parquet(path)
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.similarity import (
        lsh_probe_buckets,
    )
    buckets = lsh_probe_buckets(spark, qvec, 4, 64, 4)
    assert len(buckets) == len(set(buckets)) == 4
    files = [
        r[0]
        for r in idx.filter(F.col("lsh_bucket").isin(buckets))
        .select(F.input_file_name())
        .distinct()
        .collect()
    ]
    dirs = {f.split("lsh_bucket=")[1].split("/")[0] for f in files}
    assert dirs <= {str(b) for b in buckets}

    # the in-memory twin (registry query embedding_lsh_topk_multiprobe)
    # returns exactly the written-index probe's rows for the same params
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.similarity import (
        lsh_topk_multiprobe,
    )

    mem = lsh_topk_multiprobe(embs, 0, k=10, planes=4, dims=64, nprobe=4).collect()
    idx4 = lsh_topk_indexed(
        spark, path, query_vec_id=0, k=10, query_vec=qvec, nprobe=4
    ).collect()
    assert [r["vec_id"] for r in mem] == [r["vec_id"] for r in idx4]
    for a, b in zip(mem, idx4):
        assert abs(a["cos_sim"] - b["cos_sim"]) < 1e-12


def test_salted_join_equals_plain_join(spark, sf_dir):
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(orders, "l_orderkey").groupBy().agg(
        F.count(F.lit(1)), F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
    ).collect()
    salted = salted_join(li, orders, "l_orderkey", n_salts=4).groupBy().agg(
        F.count(F.lit(1)), F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
    ).collect()
    assert plain == salted


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Tables bucketed on the join key join with zero Exchange nodes."""
    import io
    from contextlib import redirect_stdout

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.skew import (
        write_bucketed,
    )

    write_bucketed(
        load(spark, sf_dir, "lineitem"), "li_bkt", "l_orderkey", 8, sort_col="l_orderkey"
    )
    write_bucketed(
        load(spark, sf_dir, "orders"), "ord_bkt", "o_orderkey", 8, sort_col="o_orderkey"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.table("li_bkt")
        orders = spark.table("ord_bkt")
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        # children print BELOW their parent: nothing under the join node
        # (i.e., between it and the scans) may be an Exchange
        tree = plan.split("\n\n")[0]
        below_join = tree.split("SortMergeJoin")[1]
        assert "Exchange" not in below_join, f"bucketed join must not shuffle:\n{plan}"
        assert "Bucketed: true" in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")


def test_ivf_topk_matches_bruteforce_on_probed_clusters(spark, sf_dir):
    """IVF results are exact within the probed clusters: every returned
    neighbor's cosine matches brute force, and with nprobe=all the
    top-k equals brute force exactly."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.similarity import (
        ivf_topk,
    )

    embs = load(spark, sf_dir, "embeddings")
    exact = {r["vec_id"]: r["cos_sim"] for r in brute_force_topk(embs, 0, k=500).collect()}
    approx = ivf_topk(embs, 0, k=10, nprobe=3).collect()
    assert len(approx) == 10
    for r in approx:
        assert abs(exact[r["vec_id"]] - r["cos_sim"]) < 1e-12
    n_clusters = embs.select("label").distinct().count()
    full = ivf_topk(embs, 0, k=10, nprobe=n_clusters).collect()
    brute = brute_force_topk(embs, 0, k=10).collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in brute]


def test_format_roundtrips_and_partition_pruning(spark, sf_dir, tmp_path):
    """CSV and NDJSON roundtrips preserve values under explicit schema;
    partitioned parquet write prunes partitions on read."""
    import io
    from contextlib import redirect_stdout

    from clickstreaming_end_to_end_data_engineering_project_spark.sources import formats

    ev = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    n = ev.count()

    csv_dir, json_dir, part_dir = (str(tmp_path / d) for d in ("csv", "json", "part"))
    flat = ev.select("event_id", "user_id", "event_type", "value")
    flat.write.mode("overwrite").option("header", "true").csv(csv_dir)
    back_csv = formats.read_csv(spark, csv_dir, flat.schema)
    assert sorted(back_csv.collect()) == sorted(flat.collect())

    flat.write.mode("overwrite").json(json_dir)
    back_json = formats.read_json_lines(spark, json_dir, flat.schema)
    assert sorted(back_json.collect()) == sorted(flat.collect())

    formats.write_partitioned_parquet(ev, part_dir, ["day"])
    pruned = formats.read_parquet(spark, part_dir).filter(F.col("day") == "2024-01-05")
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters")[1][:120]
    assert 0 < pruned.count() < n


def test_jaccard_matches_pure_python(spark):
    """Differential: Spark inverted-index Jaccard == reference Python
    implementation on a random corpus (includes short docs < n tokens)."""
    import itertools
    import random as _random

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    rng = _random.Random(99)
    vocab = [f"w{i}" for i in range(12)]
    docs = []
    for i in range(40):
        length = rng.choice([1, 2, 3, 8, 30, 60])
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(length))))

    def py_shingles(text, n=3):
        toks = text.split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    expected = {}
    for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
        sa, sb = py_shingles(ta), py_shingles(tb)
        inter = len(sa & sb)
        if inter:
            j = inter / (len(sa) + len(sb) - inter)
            if j >= 0.2:
                expected[(ia, ib)] = round(j, 9)

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(df, threshold=0.2).collect()
    }
    assert got == expected


def test_jaccard_cap_is_invisible_at_fixture_scale(spark, sf_dir):
    """The registry queries run with max_doc_freq=MAX_SHINGLE_DOC_FREQ;
    the fixture corpora's hottest shingle sits far below the cap, so
    capped results must equal uncapped bit-for-bit (and the oracle SQL,
    which applies the same cap, stays hash-exact)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.plans.llmdata import (
        MAX_SHINGLE_DOC_FREQ,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    uncapped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, threshold=0.2, max_doc_freq=MAX_SHINGLE_DOC_FREQ
        ).collect()
    }
    assert len(capped) > 0
    assert capped == uncapped


def test_minhash_estimates_track_exact_jaccard(spark, sf_dir):
    """Semantic check for the rows-only MinHash path: est_jaccard (mean
    of 32 min-hash agreements) must track exact shingle Jaccard for
    every LSH candidate pair.  Deterministic: seeded xxhash64, fixed
    corpus.  k=32 gives a ~0.09 standard error at p=0.5, so 0.4 is a
    generous per-pair bound and 0.15 a tight mean bound."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    cands = [
        ((r["doc_a"], r["doc_b"]), r["est_jaccard"])
        for r in minhash_lsh_candidates(docs).collect()
    ]
    assert len(cands) > 0
    errs = [abs(est - exact.get(pair, 0.0)) for pair, est in cands]
    assert max(errs) < 0.4, f"worst estimate off by {max(errs)}"
    assert sum(errs) / len(errs) < 0.15
    # banding recall: any pair with exact jaccard >= 0.9 is a candidate
    # with probability ~0.9998 per band structure (8 bands x 4 rows) —
    # deterministic here via the fixed seed
    cand_pairs = {pair for pair, _ in cands}
    for pair, j in exact.items():
        if j >= 0.9:
            assert pair in cand_pairs, f"high-jaccard pair {pair} (j={j}) missed by LSH"


def test_simhash_and_minhash_on_synthetic_dups(spark):
    """Identical docs collide exactly (simhash equal; est_jaccard 1.0);
    an unrelated doc does not join their group."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        minhash_lsh_candidates,
        simhash_dup_groups,
    )

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "completely unrelated vocabulary occupying other space"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    groups = simhash_dup_groups(df).collect()
    assert len(groups) == 1
    assert groups[0]["dup_count"] == 2 and groups[0]["first_doc"] == 1

    cands = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in minhash_lsh_candidates(df).collect()}
    assert cands.get((1, 2)) == 1.0
    assert (1, 3) not in cands and (2, 3) not in cands


def test_profile_null_and_distinct_semantics(spark):
    """NULLs count into null_cnt, never distinct_cnt; approx variant
    stays within HLL tolerance of exact."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.profile import (
        profile,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b"), (5, None)], "id int, v string"
    )
    got = {r["column_name"]: r for r in profile(df).collect()}
    assert got["id"]["row_cnt"] == 5 and got["id"]["null_cnt"] == 0 and got["id"]["distinct_cnt"] == 5
    assert got["v"]["null_cnt"] == 2 and got["v"]["distinct_cnt"] == 2

    approx = {r["column_name"]: r for r in profile(df, exact=False).collect()}
    for c in ("id", "v"):
        exact_d = got[c]["distinct_cnt"]
        assert abs(approx[c]["distinct_cnt"] - exact_d) <= max(1, 0.05 * exact_d)
        assert approx[c]["null_cnt"] == got[c]["null_cnt"]


def test_profile_handles_non_identifier_column_names(spark):
    """Column labels with spaces, quotes, dots, and hyphens must
    profile cleanly — the unpivot is struct/explode-built, never
    interpolated into SQL text."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.profile import (
        profile,
    )

    import pyspark.sql.functions as F

    base = spark.createDataFrame([(1, "a"), (2, None)], "id int, v string")
    funky = ["user id", "it's", "a.b", "hy-phen"]
    df = base.select(
        F.col("id").alias(funky[0]),
        F.col("v").alias(funky[1]),
        F.col("v").alias(funky[2]),
        F.col("id").alias(funky[3]),
    )
    got = {r["column_name"]: r for r in profile(df).collect()}
    assert set(got) == set(funky)
    assert got["user id"]["distinct_cnt"] == 2 and got["it's"]["null_cnt"] == 1


def test_chunk_documents_boundaries(spark):
    """Chunk i covers tokens [i*stride, i*stride+chunk); short docs get
    exactly one chunk; every token is covered and consecutive chunks
    overlap by chunk-stride."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.text import (
        chunk_documents,
    )

    docs = [
        (1, " ".join(f"t{i}" for i in range(10))),   # 10 tokens -> 1 chunk
        (2, " ".join(f"t{i}" for i in range(100))),  # 100 -> chunks at 0,48,96
        (3, "single"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = chunk_documents(df, chunk_tokens=64, stride=48).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_token_cnt"] == 10
    assert len(by_doc[3]) == 1 and by_doc[3][0]["chunk_text"] == "single"
    c2 = sorted(by_doc[2], key=lambda r: r["chunk_idx"])
    assert [r["chunk_idx"] for r in c2] == [0, 1]
    assert c2[0]["chunk_text"].split()[:1] == ["t0"] and len(c2[0]["chunk_text"].split()) == 64
    assert c2[1]["chunk_text"].split()[0] == "t48" and c2[1]["chunk_token_cnt"] == 52
    # overlap: chunk 1 starts inside chunk 0's token range (64 > 48)
    assert set(c2[0]["chunk_text"].split()) & set(c2[1]["chunk_text"].split())


def test_chunk_documents_tiles_every_token(spark):
    """Property: for any token count n >= 1, chunks exactly tile
    [0, n): chunk i holds tokens [i*stride, min(i*stride+chunk, n)),
    the union covers every token, and no chunk is empty."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.text import (
        chunk_documents,
    )

    @settings(max_examples=12, deadline=None)
    @given(st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=6))
    def check(lengths):
        docs = [(i, " ".join(f"w{j}" for j in range(n))) for i, n in enumerate(lengths)]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        rows = chunk_documents(df, chunk_tokens=64, stride=48).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for i, n in enumerate(lengths):
            chunks = sorted(by_doc[i], key=lambda r: r["chunk_idx"])
            expected_chunks = max(-(-(n - 64) // 48) + 1, 1)
            assert [r["chunk_idx"] for r in chunks] == list(range(expected_chunks))
            covered = set()
            for r in chunks:
                toks = r["chunk_text"].split()
                assert 1 <= len(toks) == r["chunk_token_cnt"] <= 64
                start = r["chunk_idx"] * 48
                assert toks == [f"w{j}" for j in range(start, min(start + 64, n))]
                covered.update(range(start, start + len(toks)))
            assert covered == set(range(n))

    check()


@pytest.mark.slow
def test_ngram_jaccard_histogram_matches_python_reference(spark):
    """Property (hypothesis): for ANY corpus over a tiny vocabulary
    (dense overlap), the histogram equals a Python reference computed
    with EXACT integer arithmetic ((bins*inter)//union, clamped) —
    pinning both the pair machinery and the ulp-safety argument for
    the floor-of-double binning."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        ngram_jaccard_histogram,
    )

    vocab = ["alpha", "beta", "gamma", "delta"]
    doc_strategy = st.lists(
        st.sampled_from(vocab), min_size=1, max_size=10
    ).map(" ".join)

    @settings(max_examples=10, deadline=None)
    @given(st.lists(doc_strategy, min_size=2, max_size=6))
    def check(texts):
        df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
        got = {
            (r["bin"], r["n_pairs"])
            for r in ngram_jaccard_histogram(df, n=3).collect()
        }

        def shingles(t):
            toks = t.split()
            if len(toks) < 3:
                return {" ".join(toks)}
            return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

        sets = [shingles(t) for t in texts]
        expect: dict[int, int] = {}
        for i in range(len(sets)):
            for j in range(i + 1, len(sets)):
                inter = len(sets[i] & sets[j])
                if inter == 0:
                    continue  # not a candidate pair
                union = len(sets[i] | sets[j])
                b = min((10 * inter) // union, 9)
                expect[b] = expect.get(b, 0) + 1
        assert got == set(expect.items()), (texts, got, expect)

    check()


def test_ngram_contamination_detects_planted_overlap(spark):
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        ngram_contamination,
    )

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    evals = spark.createDataFrame(
        [
            (10, "the quick brown fox appears here too"),   # shares 2 leading trigrams
            (11, "wholly disjoint vocabulary nothing shared at all"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in ngram_contamination(train, evals).collect()}
    assert set(got) == {10}
    assert got[10]["shared_shingles"] == 2 and got[10]["total_shingles"] == 5
    assert abs(got[10]["contamination"] - 0.4) < 1e-12


def test_dedup_operators_leave_no_cached_dataframes(spark, sf_dir):
    """The dedup/kmeans operators persist() large intermediates (shingle
    index, banded signatures, cached points) internally; each must
    unpersist them before returning so a long registry run doesn't
    accumulate cached blocks.  Results are eagerly localCheckpoint-ed
    (RDD-level, outside the SQL cache manager, GC-reclaimed), so the
    cache manager must be empty after every call."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.kmeans import (
        kmeans_assign,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    docs = load(spark, sf_dir, "documents")
    assert ngram_jaccard_pairs(docs, threshold=0.2, max_doc_freq=50).count() >= 0
    assert cm.isEmpty(), "ngram_jaccard_pairs leaked a cached DataFrame"
    # the CAPPED path (non-empty hot list → array_except rebind) is the
    # historical leak: unpersist used to target the rebound derivative,
    # leaving the original cached frame behind
    hot_docs = spark.createDataFrame(
        [(i, f"a b c u{i} v{i} w{i}") for i in range(5)], ["doc_id", "text"]
    )
    assert ngram_jaccard_pairs(hot_docs, threshold=0.1, max_doc_freq=4).count() == 0
    assert cm.isEmpty(), "capped ngram_jaccard_pairs leaked the pre-rebind cache entry"
    assert minhash_lsh_candidates(docs).count() >= 0
    assert cm.isEmpty(), "minhash_lsh_candidates leaked a cached DataFrame"
    embs = load(spark, sf_dir, "embeddings")
    assert kmeans_assign(embs, k=4, iterations=2).count() > 0
    assert cm.isEmpty(), "kmeans_assign leaked a cached DataFrame"


def test_jaccard_cap_drops_hot_shingles(spark):
    """When a boilerplate shingle exceeds the cap, pairs that share ONLY
    that shingle disappear — the skew-safety behavior at corpus scale."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = [(i, f"a b c u{i} v{i} w{i}") for i in range(5)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    uncapped = ngram_jaccard_pairs(df, threshold=0.1).collect()
    assert len(uncapped) == 10  # all pairs share the hot "a b c" shingle
    capped = ngram_jaccard_pairs(df, threshold=0.1, max_doc_freq=4).collect()
    assert capped == []


def test_kmeans_converges_and_is_deterministic(spark, sf_dir):
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.kmeans import (
        kmeans_assign,
    )

    embs = load(spark, sf_dir, "embeddings")
    a = {r["vec_id"]: r["cluster"] for r in kmeans_assign(embs, k=4, iterations=3).collect()}
    b = {r["vec_id"]: r["cluster"] for r in kmeans_assign(embs, k=4, iterations=3).collect()}
    assert a == b  # deterministic init + fixed iterations
    assert len(a) == embs.count()
    assert 1 < len(set(a.values())) <= 4  # nontrivial clustering


def test_pandas_topk_matches_builtin(spark, sf_dir):
    """The numpy mapInPandas top-k returns the same neighbor set as the
    expression-based path (values equal to 1e-9; summation order may
    differ in the last bits)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.similarity import (
        brute_force_topk_pandas,
    )

    embs = load(spark, sf_dir, "embeddings")
    builtin = brute_force_topk(embs, 0, k=10).collect()
    pandas_res = brute_force_topk_pandas(embs, 0, k=10).collect()
    p, b = pandas_res, builtin
    assert [r["vec_id"] for r in p] == [r["vec_id"] for r in b]
    for x, y in zip(p, b):
        assert abs(x["cos_sim"] - y["cos_sim"]) < 1e-9


def test_money_exactness_fuzz(spark, sf_dir, tmp_path):
    """Fuzz the decimal-exact aggregation contract: random 2-dp money
    values (incl. .005-boundary adversaries), 200 groups — Spark
    sum/avg must STRING-match DuckDB on the same parquet."""
    import random as _random

    import duckdb

    from clickstreaming_end_to_end_data_engineering_project_spark.functions import (
        avg_money,
        sum_money,
    )

    rng = _random.Random(4242)
    rows = []
    for i in range(20000):
        # mix uniform cents with adversarial values whose group-avgs
        # land near rounding boundaries
        cents = rng.choice([rng.randint(1, 10**7), 1005, 25, 50, 125])
        rows.append((i % 200, cents / 100.0))
    df = spark.createDataFrame(rows, ["grp", "val"])
    path = str(tmp_path / "fuzz.parquet")
    df.coalesce(2).write.mode("overwrite").parquet(path)

    got = {
        r["grp"]: (str(r["total"]), str(r["mean"]))
        for r in spark.read.parquet(path)
        .groupBy("grp")
        .agg(sum_money("val").alias("total"), avg_money("val").alias("mean"))
        .collect()
    }
    con = duckdb.connect()
    exp = {
        r[0]: (str(r[1]), str(r[2]))
        for r in con.execute(
            f"""SELECT grp,
                   CAST(sum(CAST(val AS DECIMAL(12,2))) AS DOUBLE),
                   CAST(sum(CAST(val AS DECIMAL(12,2))) AS DOUBLE) / count(*)
                FROM read_parquet('{path}/*.parquet') GROUP BY grp"""
        ).fetchall()
    }
    assert got == exp


def test_null_keys_through_operators(spark):
    """Null grouping keys and null join keys behave sanely: nulls form
    their own group in aggs, never match in equi-joins."""
    import datetime as _dt

    rows = [
        (1, _dt.datetime(2024, 1, 1, 10, 0), None, "view", 1.0, "{}"),
        (2, _dt.datetime(2024, 1, 1, 10, 1), None, "view", 1.0, "{}"),
        (3, _dt.datetime(2024, 1, 1, 10, 2), 7, "view", 1.0, "{}"),
    ]
    from tests.test_streaming import EVENTS_SCHEMA

    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    grouped = {r["user_id"]: r["cnt"] for r in df.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert grouped == {None: 2, 7: 1}

    sessions = sessionize(df, "ts", "user_id").collect()
    by_user = {}
    for r in sessions:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user[None][0]["event_count"] == 2  # null key sessionizes as a group

    dim = spark.createDataFrame([(7, "x")], ["user_id", "tag"])
    joined = df.join(dim, "user_id").collect()
    assert len(joined) == 1  # null keys never equi-match


def test_sessionize_property_based(spark):
    """Hypothesis: for ANY set of per-user event offsets (including
    exact-gap and microsecond-adjacent boundaries), native
    session_window == the lag/cumsum SQL formulation."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    offsets_strategy = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=7200_000_000),  # offset µs
        ),
        min_size=1,
        max_size=60,
    )

    @settings(max_examples=8, deadline=None)
    @given(offsets_strategy)
    def check(pairs):
        base = dt.datetime(2024, 1, 1)
        rows = [
            (i, base + dt.timedelta(microseconds=off), user)
            for i, (user, off) in enumerate(pairs)
        ]
        df = spark.createDataFrame(rows, ["event_id", "ts", "user_id"])
        native = {tuple(r) for r in sessionize(df, "ts", "user_id").collect()}
        viasql = {
            tuple(r)
            for r in sessionize_via_lag(df, "ts", "user_id", 1800, "event_id").collect()
        }
        assert native == viasql

    check()


def test_connected_components_known_graph(spark):
    """Chains, cliques, isolated pairs — labels converge to the min id
    of each true component."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.components import (
        connected_components,
        dup_clusters,
    )

    edges = spark.createDataFrame(
        # component A: chain 1-2-3-4; component B: clique 10,11,12;
        # component C: pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["doc_a", "doc_b"],
    )
    comp = {r["vertex"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    clusters = dup_clusters(edges).collect()
    canon = {r["cluster_id"] for r in clusters if r["is_canonical"]}
    assert canon == {1, 10, 20}
    assert sum(1 for r in clusters if not r["is_canonical"]) == 6  # the removable dupes


def test_dup_clusters_on_real_jaccard_pairs(spark, sf_dir):
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.components import (
        dup_clusters,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    pairs = ngram_jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.15)
    clusters = dup_clusters(pairs)
    rows = clusters.collect()
    if rows:  # cluster invariants hold whenever pairs exist
        by_cluster = {}
        for r in rows:
            by_cluster.setdefault(r["cluster_id"], []).append(r)
        for cid, members in by_cluster.items():
            assert min(m["doc_id"] for m in members) == cid
            assert sum(1 for m in members if m["is_canonical"]) == 1


def test_grouped_map_applyinpandas_matches_expression_twin(spark, sf_dir):
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.groupedmap import (
        normalize_per_group,
        normalize_per_group_expr,
    )

    docs = load(spark, sf_dir, "documents")
    pandas_side = {r["doc_id"]: r for r in normalize_per_group(docs).collect()}
    expr_side = {r["doc_id"]: r for r in normalize_per_group_expr(docs).collect()}
    assert pandas_side.keys() == expr_side.keys()
    for k in pandas_side:
        assert pandas_side[k]["lang"] == expr_side[k]["lang"]
        assert abs(pandas_side[k]["z_chars"] - expr_side[k]["z_chars"]) < 1e-9


def test_connected_components_long_chain_no_blowup(spark):
    """A 14-vertex chain needs 13 propagation rounds — this OOMed the
    driver before per-round localCheckpoint (lineage doubled per round)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 14)], ["doc_a", "doc_b"])
    comp = {r["vertex"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {i: 1 for i in range(1, 15)}


def test_connected_components_nonconvergence_raises(spark):
    import pytest as _pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 10)], ["doc_a", "doc_b"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_grouped_map_degenerate_groups(spark):
    """Single-row and zero-variance groups: both twins return z=0.0
    (the expression twin must not DIVIDE_BY_ZERO under ANSI mode)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.groupedmap import (
        normalize_per_group,
        normalize_per_group_expr,
    )

    rows = [
        (1, "solo", 100),          # single-row group
        (2, "const", 50), (3, "const", 50), (4, "const", 50),  # zero variance
        (5, "mix", 10), (6, "mix", 30),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_chars"])
    a = {r["doc_id"]: r["z_chars"] for r in normalize_per_group(df).collect()}
    b = {r["doc_id"]: r["z_chars"] for r in normalize_per_group_expr(df).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert abs(a[k] - b[k]) < 1e-9, (k, a[k], b[k])
    assert a[1] == 0.0 and a[2] == 0.0


def test_grouped_map_custom_group_col(spark, sf_dir):
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.groupedmap import (
        normalize_per_group,
    )

    docs = load(spark, sf_dir, "documents")
    out = normalize_per_group(docs, group_col="source")
    assert "source" in out.columns
    assert out.count() == docs.count()


def test_pii_scrub_matches_duckdb_oracle(spark, tmp_path):
    """PII scrubbing differential: the identical patterns run through
    Spark (java.util.regex) and DuckDB (RE2, 'g' flag) on the same
    parquet fixture must produce byte-identical scrubbed text — the
    patterns are deliberately restricted to the two engines' common
    dialect (operators/pii.py).  The driver corpus contains no digits,
    so this synthetic fixture is the family's evidence (COVERAGE.md)."""
    import duckdb

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.pii import (
        PII_PATTERNS,
        PII_REPLACEMENTS,
        pii_audit,
        scrub_pii,
    )

    docs = [
        (0, "contact jane.doe+spam@example.co.uk or call 415-555-2671 today"),
        (1, "host 10.0.254.3 served https://internal.example.com/u?id=5&mail=a@b.io fine"),
        (2, "leak: ssn 123-45-6789 beside (415) 555-2671 and +1 212.555.0100"),
        (3, "clean text, bare integers 1234567890 and a1b2c3 must survive"),
        (4, "sentence-final email@domain.io. and permissive quad 999.999.999.999"),
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    path = str(tmp_path / "pii.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    src = spark.read.parquet(path)

    got = {r["doc_id"]: r["text"] for r in scrub_pii(src).collect()}

    expr = "text"
    for name, pat in PII_PATTERNS.items():
        expr = f"regexp_replace({expr}, '{pat}', '{PII_REPLACEMENTS[name]}', 'g')"
    con = duckdb.connect()
    try:
        exp = dict(
            con.execute(
                f"SELECT doc_id, {expr} FROM read_parquet('{path}/*.parquet') ORDER BY doc_id"
            ).fetchall()
        )
    finally:
        con.close()
    assert got == exp

    # semantic spot checks, independent of both engines
    assert "|||EMAIL|||" in got[0] and "|||PHONE|||" in got[0]
    assert "|||IPV4|||" in got[1] and "|||URL|||" in got[1]
    assert "a@b.io" not in got[1], "URL rule must consume embedded address"
    assert "|||SSN|||" in got[2] and got[2].count("|||PHONE|||") == 2
    assert got[3] == docs[3][1], "bare integers and clean text untouched"
    assert got[5] == "" and got[6] is None

    # post-condition: nothing matches after scrubbing (idempotent pass)
    after = pii_audit(scrub_pii(src)).collect()[0].asDict()
    assert all(v == 0 for v in after.values()), after

    # audit on the raw fixture: exact per-type totals.  Unlike the
    # scrub (sequential, URL consumes its embedded address), the audit
    # counts each pattern independently on the raw text, so doc1's
    # URL-embedded address counts as an email here.
    audit = pii_audit(src).collect()[0].asDict()
    assert audit["email_matches"] == 3  # doc0, doc1 (inside URL), doc4
    assert audit["phone_matches"] == 3 and audit["phone_docs"] == 2
    assert audit["ssn_matches"] == 1 and audit["ipv4_matches"] == 2
    assert audit["url_matches"] == 1


def test_pii_scrub_on_driver_corpus_is_noop(spark, sf_dir):
    """The driver documents corpus is digit-free word salad: scrubbing
    must be a byte-for-byte no-op there (why this family has no gate
    row), and the audit must report zero matches for every type."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.pii import (
        pii_audit,
        scrub_pii,
    )

    docs = load(spark, sf_dir, "documents")
    audit = pii_audit(docs).collect()[0].asDict()
    assert all(v == 0 for v in audit.values()), audit
    changed = (
        scrub_pii(docs, out_col="scrubbed")
        .filter(F.col("scrubbed") != F.col("text"))
        .count()
    )
    assert changed == 0


def test_pii_custom_patterns_and_empty_corpus(spark):
    """scrub_pii with a custom pattern set derives matching placeholder
    tokens (no KeyError against the built-in replacement table), and
    pii_audit over an empty corpus reports zeros, not NULLs."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.pii import (
        pii_audit,
        scrub_pii,
    )

    df = spark.createDataFrame(
        [(0, "pay to DE44500105175407324931 today")], "doc_id long, text string"
    )
    iban = {"iban": r"\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\b"}
    out = scrub_pii(df, patterns=iban).collect()[0]["text"]
    assert out == "pay to |||IBAN||| today"

    empty = spark.createDataFrame([], "doc_id long, text string")
    audit = pii_audit(empty).collect()[0].asDict()
    assert all(v == 0 for v in audit.values()), audit
    audit_iban = pii_audit(empty, patterns=iban).collect()[0].asDict()
    assert audit_iban == {"iban_matches": 0, "iban_docs": 0}


def test_cluster_aware_split_keeps_near_dups_together(spark):
    """Every member of a dup cluster must land in the SAME split (the
    anti-leakage contract), across many clusters so both train and test
    outcomes occur; docs outside any cluster split exactly as the plain
    id-hash split does."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sampling import (
        cluster_aware_split,
        train_test_split,
    )

    # 40 clusters of 3 near-dup ids + 80 singletons
    pairs = spark.createDataFrame(
        [(i, i + 1000) for i in range(40)] + [(i + 1000, i + 2000) for i in range(40)],
        ["doc_a", "doc_b"],
    )
    docs = spark.createDataFrame(
        [(i,) for i in range(40)]
        + [(i + 1000,) for i in range(40)]
        + [(i + 2000,) for i in range(40)]
        + [(i + 9000,) for i in range(80)],
        ["doc_id"],
    )
    out = cluster_aware_split(docs, pairs).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    assert len(split_of) == 200
    for i in range(40):
        assert split_of[i] == split_of[i + 1000] == split_of[i + 2000], (
            f"cluster {i} straddles the split boundary"
        )
    assert {split_of[i] for i in range(40)} == {"train", "test"}, (
        "fixture should produce clusters in both splits"
    )
    # singletons: identical to the plain split
    naive = {r["doc_id"]: r["split"] for r in train_test_split(docs, "doc_id").collect()}
    for i in range(80):
        assert split_of[9000 + i] == naive[9000 + i]
    # the plain split DOES straddle some cluster (the leakage this
    # operator exists to prevent) — otherwise the test proves nothing
    assert any(
        len({naive[i], naive[i + 1000], naive[i + 2000]}) > 1 for i in range(40)
    ), "fixture too small to exhibit naive-split leakage"


def test_sample_to_token_budget_greedy_fill(spark):
    """The bucketed two-phase cumsum must equal the naive single-window
    greedy fill: rows in (md5(key), key) order are kept while the
    PRECEDING total is under the budget (the crossing row is included);
    and the kept set is always a prefix of the hash order."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import sampling

    rows = [(i, 10 + (i * 7) % 23) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    budget = 500
    out = sampling.sample_to_token_budget(df, "doc_id", "n_tok", budget).collect()
    # naive twin on the driver
    import hashlib

    ordered = sorted(rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))
    cum, expect = 0, {}
    for k, w in ordered:
        if cum >= budget:
            break
        cum += w
        expect[k] = cum
    got = {r.doc_id: r.cum_weight for r in out}
    assert got == expect
    assert 0 < len(got) < len(rows), "budget must select a strict subset"
    # crossing row included: last kept row's cum exceeds or hits budget
    assert max(expect.values()) >= budget


def test_sample_to_token_budget_edge_budgets(spark):
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import sampling

    df = spark.createDataFrame([(1, 5), (2, 5)], ["doc_id", "n_tok"])
    assert sampling.sample_to_token_budget(df, "doc_id", "n_tok", 0).count() == 0
    big = sampling.sample_to_token_budget(df, "doc_id", "n_tok", 10**9)
    assert big.count() == 2, "a huge budget keeps everything"


def test_mixture_weights_properties(spark):
    """Largest source gets relative weight exactly 1.0; smoothing
    compresses the range (smoothed ≥ natural share for every
    non-largest source); shares sum to 1."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import sampling

    rows = [("a", 100), ("a", 100), ("b", 50), ("c", 10)]
    df = spark.createDataFrame(rows, ["source", "n_tok"])
    out = {r.source: r for r in sampling.mixture_weights(df, "source", "n_tok").collect()}
    assert out["a"].smoothed_rel_weight == 1.0
    assert abs(sum(r.natural_share for r in out.values()) - 1.0) < 1e-12
    for s in ("b", "c"):
        assert out[s].smoothed_rel_weight > out[s].n_tokens / out["a"].n_tokens, (
            "T=2 smoothing must up-weight smaller sources relative to the head"
        )
    assert out["c"].n_tokens == 10 and out["c"].n_docs == 1


def test_repeated_ngrams_finds_planted_boilerplate(spark):
    """A planted 8-word span shared by 3 docs must surface with
    doc_cnt=3; a span repeated WITHIN one doc only must not count
    twice; unique tails must be pruned by min_docs."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import text as t

    span = "one two three four five six seven eight"
    docs = [
        (1, span + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, "x y " + span),
        (3, span + " " + span),  # internal repeat: still ONE doc
        (4, "p q r s t u v w unique tail words only here now"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = t.repeated_ngrams(df, n=8, min_docs=2, k=50).collect()
    by_gram = {r.gram: r.doc_cnt for r in out}
    assert by_gram[span] == 3
    assert all(c >= 2 for c in by_gram.values())
    assert "p q r s t u v w" not in by_gram, "min_docs must prune unique grams"


def test_int8_quant_error_bounds(spark):
    """Quantization invariants: per-component error ≤ scale/2 (so
    max_abs_err ≤ qscale/2 + ulp), sse ≤ dims·(scale/2)², zero vectors
    yield all-zero stats, and a constant vector quantizes exactly to
    ±127 steps (error 0)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import similarity

    rows = [
        (1, [0.5, -0.25, 0.125, 0.33]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [2.54, -2.54, 2.54, -2.54]),  # constant magnitude → exact
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in similarity.int8_quant_error(df).collect()}
    assert out[2].qscale == 0.0 and out[2].max_abs_err == 0.0 and out[2].sse == 0.0
    for vid in (1, 3):
        r = out[vid]
        assert r.max_abs_err <= r.qscale / 2 + 1e-12, (vid, r)
        assert r.sse <= 4 * (r.qscale / 2) ** 2 + 1e-12
    assert out[3].max_abs_err < 1e-7, "max-magnitude components are exact lattice points"


@pytest.mark.slow
def test_sample_to_token_budget_property_matches_naive(spark):
    """Property (hypothesis): for ANY key set, weight assignment, and
    budget, the bucketed two-phase cumsum selects exactly the rows the
    naive driver-side greedy fill selects, with identical cumulative
    totals — the bucket decomposition must be invisible."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import sampling

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(min_value=0, max_value=10**6), st.integers(1, 500)),
            min_size=1,
            max_size=60,
            unique_by=lambda t: t[0],
        ),
        st.integers(min_value=1, max_value=5000),
    )
    def check(rows, budget):
        df = spark.createDataFrame(rows, ["doc_id", "w"])
        got = {
            r.doc_id: r.cum_weight
            for r in sampling.sample_to_token_budget(df, "doc_id", "w", budget).collect()
        }
        ordered = sorted(
            rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0])
        )
        cum, expect = 0, {}
        for k, w in ordered:
            if cum >= budget:
                break
            cum += w
            expect[k] = cum
        assert got == expect

    check()


def test_dau_wau_smear_matches_naive_rolling_distinct(spark):
    """The smear-trick rolling distinct must equal a naive per-day
    'distinct users in the trailing 7 days' computed on the driver —
    including users active on several days of one window (must count
    once) and gaps in the day range."""
    import datetime as dt

    from clickstreaming_end_to_end_data_engineering_project_spark.plans.extras import (
        dau_wau_stickiness,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources import tables

    base = dt.datetime(2024, 3, 1)
    events = []
    # user 1 active every day 0..9; user 2 on days 0 and 3 (same window);
    # user 3 only day 8 (appears after a gap for most windows)
    for d in range(10):
        events.append((len(events), base + dt.timedelta(days=d, hours=1), 1, "view", 1.0, "{}"))
    for d in (0, 3):
        events.append((len(events), base + dt.timedelta(days=d, hours=2), 2, "view", 1.0, "{}"))
    events.append((len(events), base + dt.timedelta(days=8, hours=3), 3, "view", 1.0, "{}"))
    df = spark.createDataFrame(
        events, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import tempfile, os

    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
    # day is a midnight-UTC TIMESTAMP; collect() renders it in OS-local
    # wall time (TimestampType.fromInternal), so convert back to UTC
    # before taking the date part or any box west of UTC keys the
    # previous day
    out = {
        r.day.astimezone(dt.timezone.utc).date(): (r.dau, r.wau)
        for r in dau_wau_stickiness(spark, tmp).collect()
    }
    daily = {}
    for _, ts, uid, *_ in events:
        daily.setdefault(ts.date(), set()).add(uid)
    for day, users in daily.items():
        window_users = set()
        for back in range(7):
            window_users |= daily.get(day - dt.timedelta(days=back), set())
        assert out[day] == (len(users), len(window_users)), day
    assert set(out) == set(daily), "every observed day appears exactly once"


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee (Schleimer et al. 2003): two documents
    sharing a substring of length >= k+w-1 (= 8 chars at k=5, w=4)
    must share at least one fingerprint; docs shorter than k+w-1
    produce none; identical docs have identical fingerprint sets; and
    disjoint-alphabet docs share nothing."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import text as t

    shared = "common-substring-here"
    docs = [
        (1, "prefix one " + shared + " suffix alpha"),
        (2, shared + " entirely different ending"),
        (3, "zzzz"),  # < 8 chars → omitted
        (4, "prefix one " + shared + " suffix alpha"),  # identical to 1
        (5, "qqqqqqqqqqqqqqqqqqqq"),  # disjoint alphabet
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: set(r.fingerprints) for r in t.winnow_fingerprints(df).collect()}
    assert 3 not in out
    assert out[1] & out[2], "shared >=k+w-1 substring must share a fingerprint"
    assert out[1] == out[4], "identical docs → identical fingerprint sets"
    assert not (out[1] & out[5]), "disjoint docs must not collide"


def test_winnow_dups_detects_planted_near_dups(spark):
    """A doc differing from another by one edit far into the text must
    pair with high overlap; an unrelated doc must not pair with either;
    doc_a < doc_b ordering holds."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import text as t

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [
        (1, base),
        (2, base[:-5] + "night"),  # near-dup: one tail edit
        (3, "completely unrelated words with zero char overlap qqq vvv"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = {(r.doc_a, r.doc_b): r.overlap for r in t.winnow_dups(df, min_overlap=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.8, pairs
    assert all(3 not in p for p in pairs)
    assert all(a < b for a, b in pairs)


def test_ngram_novelty_counts_unique_grams(spark):
    """Planted trigrams: novelty = fraction of a doc's DISTINCT
    3-grams appearing in no other doc; repeats within one doc count
    once; docs shorter than n are absent."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import text as t

    docs = [
        (1, "a b c d"),        # "a b c" shared with 2, "b c d" unique
        (2, "a b c"),          # its only gram is shared
        (3, "x y z w"),        # both grams unique
        (4, "k l m k l m"),    # within-doc repeat: "k l m" counts once, unique
        (5, "pq"),             # < n tokens: absent
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_grams"], r["novel_grams"], r["novelty"])
        for r in t.ngram_novelty(df, n=3).collect()
    }
    assert got == {
        1: (2, 1, 0.5),
        2: (1, 0, 0.0),
        3: (2, 2, 1.0),
        4: (3, 3, 1.0),  # k l m / l m k / m k l (+ repeat of k l m) -> 3 distinct
    }


def test_weekly_retention_cohorts_planted(spark, tmp_path):
    """Planted events across two ISO weeks: cohorts keyed by first-seen
    week, offsets in whole weeks, users counted once per week."""
    import datetime as dt

    from clickstreaming_end_to_end_data_engineering_project_spark.plans.extras import (
        weekly_retention_cohorts,
    )

    rows = [
        (1, dt.datetime(2024, 1, 2, 10), 1),   # u1 week of Jan 1
        (2, dt.datetime(2024, 1, 2, 11), 1),   # same week again: counts once
        (3, dt.datetime(2024, 1, 9, 9), 1),    # u1 week of Jan 8 -> offset 1
        (4, dt.datetime(2024, 1, 3, 8), 2),    # u2 week of Jan 1 only
        (5, dt.datetime(2024, 1, 10, 8), 3),   # u3 first seen week of Jan 8
    ]
    df = spark.createDataFrame(
        [(eid, ts, uid, "view", 0.0, "{}") for eid, ts, uid in rows],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {
        (r["cohort_week"].date(), r["week_offset"]): r["active_users"]
        for r in weekly_retention_cohorts(spark, str(tmp_path)).collect()
    }
    assert got == {
        (dt.date(2024, 1, 1), 0): 2,   # u1 + u2
        (dt.date(2024, 1, 1), 1): 1,   # u1 retained
        (dt.date(2024, 1, 8), 0): 1,   # u3's own cohort
    }


def test_dup_span_stats_merges_overlapping_intervals(spark):
    """Planted spans at n=3, min_docs=2: overlapping duplicated-gram
    spans must merge into one island (no double counting), disjoint
    spans must sum, docs with no cross-doc gram must be absent, and
    within-doc-only repeats must not count."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import text as t

    docs = [
        (1, "a b c d e f"),    # hot grams at 0,1,2 -> island [0,4] = 5 of 6
        (2, "x y a b c q"),    # hot gram at 2 -> [2,4] = 3 of 6
        (3, "zz ww qq vv uu"), # no shared grams -> absent
        (4, "a b c d a b c"),  # [0,2]+[1,3] merge to [0,3]; [4,6] disjoint -> 7 of 7
        (5, "a b c d e"),      # [0,2]+[1,3]+[2,4] merge -> 5 of 5
        (6, "k l m n k l m"),  # "k l m" twice but only in this doc -> absent
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_span_fraction"])
        for r in t.dup_span_stats(df, n=3, min_docs=2).collect()
    }
    assert got == {
        1: (6, 5, 0.833333),
        2: (6, 3, 0.5),
        4: (7, 7, 1.0),
        5: (5, 5, 1.0),
    }


def test_trim_dup_spans_excises_exactly_the_covered_tokens(spark):
    """The trim ACTION must remove exactly the tokens dup_span_stats
    counts as covered: kept_tokens == n_tokens − dup_tokens doc-for-doc,
    untouched docs pass through with their (whitespace-normalized) text
    intact, and a fully-boilerplate doc still emits a row with empty
    text_clean."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import text as t

    docs = [
        (1, "a b c d e f"),
        (2, "x y a b c q"),
        (3, "zz ww qq vv uu"),
        (4, "a b c"),       # fully covered at n=3 (shared with 1,2)
        (5, "pq"),          # < n tokens: passes through
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    trimmed = {r["doc_id"]: r for r in t.trim_dup_spans(df, n=3, min_docs=2).collect()}
    stats = {r["doc_id"]: r for r in t.dup_span_stats(df, n=3, min_docs=2).collect()}

    assert set(trimmed) == {1, 2, 3, 4, 5}, "every doc must emit a row"
    for d, row in trimmed.items():
        dup = stats[d]["dup_tokens"] if d in stats else 0
        assert row["kept_tokens"] == row["n_tokens"] - dup, (d, row)
        assert len([w for w in row["text_clean"].split() if w]) == row["kept_tokens"]
    assert trimmed[3]["text_clean"] == "zz ww qq vv uu"  # untouched
    assert trimmed[5]["text_clean"] == "pq"              # too short to gram
    assert trimmed[4]["text_clean"] == "" and trimmed[4]["kept_tokens"] == 0
    # kept tokens preserve original order
    assert trimmed[2]["text_clean"] == "x y q"


def test_winnow_fingerprints_unicode_ord_parity(spark):
    """The vectorized kernel decodes text as utf-32-le, which must
    yield exactly Python's ord() per character (= Spark ascii() =
    DuckDB ord()) for non-ASCII too — accented chars, CJK, and an
    astral-plane emoji (surrogate-pair in UTF-16, one codepoint in
    UTF-32)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import text as t

    K, W, MOD = 5, 4, 2147483647

    def py_winnow(s: str):
        codes = [ord(c) for c in s]
        if len(codes) < K + W - 1:
            return None
        kh = []
        for i in range(len(codes) - K + 1):
            acc = 0
            for c in codes[i : i + K]:
                acc = (acc * 31 + c) % MOD
            kh.append(acc)
        return sorted({min(kh[j : j + W]) for j in range(len(kh) - W + 1)})

    texts = [
        "café déjà-vu naïveté über straße",
        "日本語のテキストです、漢字とかなが混在",
        "mixed ascii and 中文 and ωμέγα symbols",
        "emoji \U0001f600 inside the text stream here",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r.doc_id: sorted(r.fingerprints)
        for r in t.winnow_fingerprints(df, k=K, w=W).collect()
    }
    expect = {i: py_winnow(s) for i, s in enumerate(texts)}
    assert got == expect


def test_weighted_sample_is_probability_faithful_and_deterministic(spark):
    """p=0 keeps nothing, p=1 keeps everything, p=0.5 keeps ~half
    (binomial 3σ bound), repeated runs keep the IDENTICAL set, and the
    kept set under p=0.3 is a subset of the kept set under p=0.7 (the
    uniform variate is per-key, so keep-sets are nested in p)."""
    from pyspark.sql import functions as F

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import sampling

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")

    def kept(p):
        return {
            r.doc_id
            for r in sampling.weighted_sample(
                df.withColumn("p", F.lit(p)), "doc_id", "p"
            ).collect()
        }

    assert kept(0.0) == set()
    assert len(kept(1.0)) == 4000
    half = kept(0.5)
    assert abs(len(half) - 2000) < 3 * (4000 * 0.25) ** 0.5
    assert kept(0.5) == half, "re-run must keep the identical set"
    assert kept(0.3) <= kept(0.7), "keep-sets must be nested in p"


def test_winnow_fingerprints_property_matches_python_twin(spark):
    """Property (hypothesis): the columnar winnowing pipeline (shifted
    slices + zip_with folds) produces EXACTLY the fingerprint set a
    direct Python implementation of the algorithm produces, for
    arbitrary ASCII strings — pins the k-gram hash fold, the window
    minima, and the length cutoff bit-for-bit."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import text as t

    K, W, MOD = 5, 4, 2147483647

    def py_winnow(s: str):
        codes = [ord(c) for c in s]
        if len(codes) < K + W - 1:
            return None
        kh = []
        for i in range(len(codes) - K + 1):
            acc = 0
            for c in codes[i : i + K]:
                acc = (acc * 31 + c) % MOD
            kh.append(acc)
        return sorted({min(kh[j : j + W]) for j in range(len(kh) - W + 1)})

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.text(
                alphabet=st.characters(min_codepoint=32, max_codepoint=126),
                min_size=0,
                max_size=60,
            ),
            min_size=1,
            max_size=8,
        )
    )
    def check(texts):
        rows = [(i, s) for i, s in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: sorted(r.fingerprints)
            for r in t.winnow_fingerprints(df, k=K, w=W).collect()
        }
        fps = ((i, py_winnow(s)) for i, s in rows)
        expect = {i: fp for i, fp in fps if fp is not None}
        assert got == expect

    check()


def test_pq_adc_distances_match_python_reference(spark):
    """ADC lookup correctness: the expression-side table-lookup sum
    must equal the Python reference computed from the same codebooks
    and codes, row for row; codes must be well-formed (m ints in
    [0, k))."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )

    rows = [(i, [float((i * 7 + j * 3) % 13) / 13 for j in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = S.train_pq_codebooks(df, m=4, k=4, iterations=2)
    codes_df = S.pq_encode(df, books)
    codes = {r["vec_id"]: r["codes"] for r in codes_df.collect()}
    assert all(len(c) == 4 and all(0 <= x < 4 for x in c) for c in codes.values())

    qvec = rows[0][1]
    got = {
        r["vec_id"]: r["approx_dist"]
        for r in S.pq_topk_adc(codes_df, books, qvec, k=40).collect()
    }
    d = len(books[0][2])
    table = {}
    for s, c, cv in books:
        q = qvec[s * d : (s + 1) * d]
        table[(s, c)] = sum((a - b) ** 2 for a, b in zip(q, cv))
    for vid, cs in codes.items():
        ref = sum(table[(s, cs[s])] for s in range(4))
        assert abs(got[vid] - ref) < 1e-9, (vid, got[vid], ref)


def test_pq_rerank_recovers_exact_neighbors(spark, sf_dir):
    """PQ shortlist + exact rerank on the fixture embeddings: the
    reranked top-10 must hit most of the true L2 top-10 (deterministic
    training → fixed recall; pinned with margin), and rerank distances
    must be EXACT (equal to directly computed L2 for those ids)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import segstore, vecexpr
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load
    from pyspark.sql import functions as F

    embs = load(spark, sf_dir, "embeddings").persist()
    try:
        qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
        qlit = segstore.doubles_sql(qvec)
        corpus = embs.filter(F.col("vec_id") != 0)
        exact = [
            r["vec_id"]
            for r in corpus.select("vec_id", F.expr(vecexpr.sq_dist("embedding", qlit)).alias("d"))
            .orderBy(F.col("d").asc(), F.col("vec_id"))
            .limit(10)
            .collect()
        ]
        books = S.train_pq_codebooks(embs, m=8, k=16, iterations=3)
        codes = S.pq_encode(corpus, books)
        got = S.pq_topk_rerank(corpus, codes, books, qvec, k=10, shortlist=100).collect()
        recall = len({r["vec_id"] for r in got} & set(exact)) / 10
        assert recall >= 0.6, f"recall@10 {recall} below pinned floor"
        # rerank distances are exact L2, not approximations
        direct = {
            r["vec_id"]: r["d"]
            for r in corpus.select(
                "vec_id", F.expr(vecexpr.sq_dist("embedding", qlit)).alias("d")
            ).collect()
        }
        for r in got:
            assert abs(r["l2_dist"] - direct[r["vec_id"]]) < 1e-9
    finally:
        embs.unpersist()


def test_pq_written_index_probe_matches_direct_rerank(spark, sf_dir, tmp_path):
    """write_pq_index + pq_topk_indexed round-trip: the stored-layout
    probe must return exactly what pq_topk_rerank computes directly
    from the same codebooks (deterministic anchor books → exact row
    equality), the ADC pass must column-prune the codes scan, and
    mismatched query geometry must be rejected."""
    import pytest as _pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load
    from pyspark.sql import functions as F

    embs = load(spark, sf_dir, "embeddings").persist()
    path = str(tmp_path / "pq_index")
    try:
        corpus = embs.filter(F.col("vec_id") != 0)
        books = S.anchor_pq_codebooks(embs, m=8, k=16)
        S.write_pq_index(corpus, path, codebooks=books)
        assert S.read_pq_codebooks(spark, path) == sorted(books)
        qvec = [
            float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]
        ]
        got = S.pq_topk_indexed(spark, path, corpus, qvec, k=10, shortlist=50).collect()
        codes = S.pq_encode(corpus, books)
        want = S.pq_topk_rerank(corpus, codes, books, qvec, k=10, shortlist=50).collect()
        assert [(r["vec_id"], r["l2_dist"]) for r in got] == [
            (r["vec_id"], r["l2_dist"]) for r in want
        ]
        # the ADC pass scans only (id, codes) — column pruning pinned
        adc = S.pq_topk_adc(
            spark.read.parquet(path + "/codes"), books, qvec, k=50
        )
        plan = adc._sc._jvm.PythonSQLUtils.explainString(
            adc._jdf.queryExecution(), "formatted"
        )
        scan_schemas = [
            ln for ln in plan.splitlines() if "ReadSchema" in ln
        ]
        assert scan_schemas and all(
            "embedding" not in ln for ln in scan_schemas
        ), scan_schemas
        with _pytest.raises(ValueError, match="dims"):
            S.pq_topk_indexed(spark, path, corpus, qvec[:32], k=10)
    finally:
        embs.unpersist()


def test_ivf_topk_learned_matches_manual_composition(spark, sf_dir):
    """The packaged learned-cluster IVF must return exactly what the
    manual kmeans_assign + join + ivf_topk composition returns
    (deterministic k-means init → identical clusters → identical
    probe set and ranking)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.kmeans import (
        kmeans_assign,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    embs = load(spark, sf_dir, "embeddings")
    got = S.ivf_topk_learned(
        embs, query_vec_id=0, k=10, n_clusters=8, nprobe=3, iterations=2
    ).collect()
    clusters = kmeans_assign(embs, k=8, iterations=2)
    want = S.ivf_topk(
        embs.join(clusters, "vec_id"), 0, k=10, nprobe=3, cluster_col="cluster"
    ).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in got] == [
        (r["vec_id"], r["cos_sim"]) for r in want
    ]
    assert len(got) == 10


def test_knuth_key_matches_naive_product_all_ranges(spark):
    """The overflow-free split-multiply knuth_key must equal
    (id * 2654435761) mod 2^32 for ids across the whole non-negative
    int64 range — including ids past 2^32 where the naive Spark
    product would overflow (ANSI: throw) and ids past 2^53 where a
    float division in the hi-word extraction would eat low bits."""
    import random

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.similarity import (
        knuth_key,
    )
    from pyspark.sql import functions as F

    rng = random.Random(20260814)
    ids = [0, 1, 65535, 65536, 2**31, 2**32 - 1, 2**32, 2**53 + 1, 2**62 - 1] + [
        rng.randrange(0, 2**62) for _ in range(500)
    ]
    # negative ids too: Spark's pmod-based split must still equal the
    # Python pmod reference (Python % IS pmod), and the DuckDB oracle
    # CTE's pmod-wrapped expression must agree cross-engine — the two
    # engines' bare % disagree on negatives (ADVICE r10)
    ids += [-1, -65536, -65537, -(2**31), -(2**32) - 5, -(2**53) - 1, -(2**62)] + [
        -rng.randrange(1, 2**62) for _ in range(100)
    ]
    df = spark.createDataFrame([(i,) for i in ids], "vec_id long")
    got = {
        r["vec_id"]: r["k"]
        for r in df.select("vec_id", knuth_key(F.col("vec_id")).alias("k")).collect()
    }
    for i in ids:
        assert got[i] == (i * 2654435761) % (1 << 32), i

    import duckdb

    duck_expr = (
        "((((vec_id % 65536) + 65536) % 65536 * 2654435761) % 4294967296"
        " + ((((vec_id >> 16) % 65536) + 65536) % 65536 * 2654435761"
        " % 4294967296) * 65536) % 4294967296"
    )
    con = duckdb.connect()
    duck = dict(
        con.execute(
            f"SELECT vec_id, {duck_expr} FROM (SELECT unnest(?::BIGINT[]) AS vec_id)",
            [ids],
        ).fetchall()
    )
    con.close()
    for i in ids:
        assert duck[i] == got[i], (i, duck[i], got[i])


def test_sql_double_literals_roundtrip(spark):
    """pq_adc_report inlines its codebook as SQL double literals
    (repr(x) + 'D'): Python's shortest-round-trip repr parsed by
    Spark's correctly-rounded parser must reproduce the double
    BIT-exactly, including negatives, subnormal-ish exponents, and
    max-double."""
    import struct as _struct

    from pyspark.sql import functions as F

    vals = [
        0.1,
        -0.25,
        1e-05,
        -7.812445e-06,
        3.0000000000000004,
        1.7976931348623157e308,
        5e-324,
        0.0,
    ]
    expr = "array(" + ",".join(repr(v) + "D" for v in vals) + ")"
    got = spark.range(1).select(F.expr(expr).alias("a")).first()["a"]
    for v, g in zip(vals, got):
        assert _struct.pack("d", v) == _struct.pack("d", g), (v, g)


def test_doubles_lit_roundtrips_bit_exactly_as_one_constant(spark):
    """Query vectors and ADC tables enter probe plans through
    ``segstore.doubles_sql``: one JSON string literal parsed by
    ``from_json``.  Every double must come back bit-exactly (compared by
    repr, so -0.0 and the subnormals count), flat and nested, and the
    optimizer must fold the parse into one constant."""
    import math
    import struct as _struct

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.segstore import (
        doubles_sql,
    )

    vals = [0.0, -0.0, 5e-324, 2.2250738585072014e-308, 1.7976931348623157e308, 0.1, 1 / 3]
    rng = random.Random(20261018)
    while len(vals) < 7 + 10_000:
        x = _struct.unpack("d", _struct.pack("Q", rng.getrandbits(64)))[0]
        if math.isfinite(x):
            vals.append(x)
    df = spark.range(1).select(F.expr(doubles_sql(vals)).alias("a"))
    assert [repr(g) for g in df.first()["a"]] == [repr(v) for v in vals]
    assert "from_json" not in df._jdf.queryExecution().optimizedPlan().toString()
    nested = [[vals[:3], vals[3:7]], [vals[7:9], vals[9:11]]]
    got = spark.range(1).select(F.expr(doubles_sql(nested)).alias("a")).first()["a"]
    assert [[[repr(x) for x in r] for r in t] for t in got] == [
        [[repr(x) for x in r] for r in t] for t in nested
    ]


def test_lsh_indexed_probe_rejects_wrong_dims_query(spark, tmp_path):
    """Like the IVF, PQ and IVFPQ probes, the LSH probe rejects a query
    whose length differs from the index's dims (a longer one used to
    return rows with NULL cos_sim, a shorter one a TypeError)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0, float(i) / 7.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "lsh")
    S.write_lsh_index(vecs, path, planes=2, dims=4)
    assert len(S.lsh_topk_indexed(spark, path, query_vec=[0.5] * 4, k=3).collect()) == 3
    for n in (3, 5, 6):
        with pytest.raises(ValueError, match=f"lsh_topk_indexed: query has {n} dims, index expects 4"):
            S.lsh_topk_indexed(spark, path, query_vec=[0.5] * n, k=3).collect()


def test_pq_adc_report_matches_pq_encode_assignments(spark, sf_dir):
    """The oracle-backed anchor-codebook report and the production
    encode path share assignment semantics: decoding code_key must
    reproduce pq_encode's codes for the SAME codebooks, and the
    report's approx_dist must equal the ADC table sum for those
    codes (ties Spark's gated query to the trained-PQ machinery
    without cross-engine float hazards)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load
    from pyspark.sql import functions as F

    m, k = 8, 16
    embs = load(spark, sf_dir, "embeddings").persist()
    try:
        books = S.anchor_pq_codebooks(embs, m=m, k=k)
        assert len(books) == m * k
        # anchors are verbatim data subvectors shared across subspaces
        report = {
            r["vec_id"]: r
            for r in S.pq_adc_report(embs, m=m, k=k, query_vec_id=0).collect()
        }
        codes = {
            r["vec_id"]: r["codes"]
            for r in S.pq_encode(embs.filter(F.col("vec_id") != 0), books).collect()
        }
        assert set(report) == set(codes)
        d = len(books[0][2])
        qvec = [
            float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]
        ]
        table = {
            (s, c): sum(
                (a - b) ** 2 for a, b in zip(qvec[s * d : (s + 1) * d], cv)
            )
            for s, c, cv in books
        }
        for vid, row in report.items():
            decoded = [(row["code_key"] >> (4 * s)) & 0xF for s in range(m)]
            assert decoded == list(codes[vid]), (vid, decoded, codes[vid])
            ref = sum(table[(s, decoded[s])] for s in range(m))
            assert abs(row["approx_dist"] - ref) < 1e-9
            assert row["approx_dist"] >= 0.0 and row["l2_dist"] >= 0.0
    finally:
        embs.unpersist()


def test_unit_normalize_cosine_becomes_l2(spark):
    """unit_normalize: every nonzero row lands on the unit sphere
    (double precision), the zero vector passes through unchanged, and
    L2 order over the normalized corpus equals cosine order over the
    raw corpus — the identity (||a-b||^2 = 2 - 2cos on the sphere)
    the IVFPQ serving path relies on."""
    import math

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import segstore, vecexpr
    from pyspark.sql import functions as F

    rows = [(i, [float(((i * 7 + j * 5) % 17) - 8) for j in range(6)]) for i in range(30)]
    rows.append((99, [0.0] * 6))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    normed = S.unit_normalize(df)
    for r in normed.collect():
        n = math.sqrt(sum(x * x for x in r["embedding"]))
        if r["vec_id"] == 99:
            assert n == 0.0
        else:
            assert abs(n - 1.0) < 1e-12
    # cosine ranking on raw == L2 ranking on normalized (zero vec excluded)
    cos_order = [
        r["vec_id"] for r in S.brute_force_topk(df.filter("vec_id != 99"), 0, k=29).collect()
    ]
    qn = [
        float(x)
        for x in normed.filter(F.col("vec_id") == 0).head()["embedding"]
    ]
    qlit = segstore.doubles_sql(qn)
    l2_order = [
        r["vec_id"]
        for r in normed.filter("vec_id != 99 and vec_id != 0")
        .select("vec_id", F.expr(vecexpr.sq_dist("embedding", qlit)).alias("d"))
        .orderBy(F.col("d").asc(), F.col("vec_id"))
        .collect()
    ]
    assert cos_order == l2_order


def test_ivfpq_exhaustive_matches_bruteforce(spark):
    """IVFADC parity vs exact rerank: probing EVERY cluster with a
    full-corpus shortlist must return exactly the brute-force L2
    top-k — the shortlist covers the corpus and the rerank is exact,
    so approximation quality cannot matter. Pins the probe's plumbing
    (residual ADC tables, cluster routing, dedup, rerank join)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import segstore, vecexpr
    from pyspark.sql import functions as F

    rows = [
        (i, [float(((i * 11 + j * 3) % 23) - 11) / 11 for j in range(8)])
        for i in range(80)
    ]
    df = S.unit_normalize(spark.createDataFrame(rows, ["vec_id", "embedding"]))
    q = [float(x) for x in df.filter(F.col("vec_id") == 0).head()["embedding"]]
    body = df.filter(F.col("vec_id") != 0)
    codes, cents, books = S.ivfpq_build(
        body, n_clusters=4, m=4, codes_k=8, coarse_iterations=2, pq_iterations=2
    )
    got = S.ivfpq_topk(
        body, codes, cents, books, q, k=10, nprobe=4, shortlist=200
    ).collect()
    qlit = segstore.doubles_sql(q)
    want = (
        body.select("vec_id", F.expr(vecexpr.sq_dist("embedding", qlit)).alias("l2_dist"))
        .orderBy(F.col("l2_dist").asc(), F.col("vec_id"))
        .limit(10)
        .collect()
    )
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    for g, w in zip(got, want):
        assert abs(g["l2_dist"] - w["l2_dist"]) < 1e-9


def test_ivfpq_multiple_assignment_shape_and_dedup(spark):
    """assign_n=2: the index holds exactly 2 entries per vector under
    2 DISTINCT clusters, and the probe output never repeats an id
    (best-ADC dedup before the shortlist)."""
    from collections import Counter

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from pyspark.sql import functions as F

    rows = [
        (i, [float(((i * 13 + j * 7) % 19) - 9) / 9 for j in range(8)])
        for i in range(60)
    ]
    df = S.unit_normalize(spark.createDataFrame(rows, ["vec_id", "embedding"]))
    codes, cents, books = S.ivfpq_build(
        df, n_clusters=4, m=4, codes_k=8, coarse_iterations=2, pq_iterations=1,
        assign_n=2,
    )
    entries = codes.select("vec_id", "cluster").collect()
    per_id = Counter(r["vec_id"] for r in entries)
    assert set(per_id.values()) == {2}
    clusters_per_id = Counter((r["vec_id"], r["cluster"]) for r in entries)
    assert set(clusters_per_id.values()) == {1}, "duplicate (id, cluster) entry"
    q = [float(x) for x in df.filter(F.col("vec_id") == 0).head()["embedding"]]
    body = df.filter(F.col("vec_id") != 0)
    got = S.ivfpq_topk(
        body, codes.filter(F.col("vec_id") != 0), cents, books, q,
        k=10, nprobe=3, shortlist=30,
    ).collect()
    ids = [r["vec_id"] for r in got]
    assert len(ids) == len(set(ids)), "probe surfaced a duplicate id"


def test_ivfpq_recall_floor_on_fixture(spark, sf_dir):
    """IVFADC on the fixture embeddings (unit-normalized, so L2
    recall == cosine recall): deterministic build → fixed recall;
    pinned with margin at the r11 bench config's small-fixture
    analogue. Also pins that rerank distances are exact L2."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import segstore, vecexpr
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load
    from pyspark.sql import functions as F

    embs = S.unit_normalize(
        load(spark, sf_dir, "embeddings")
    ).localCheckpoint(eager=True)
    q = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    body = embs.filter(F.col("vec_id") != 0)
    qlit = segstore.doubles_sql(q)
    exact = [
        r["vec_id"]
        for r in body.select("vec_id", F.expr(vecexpr.sq_dist("embedding", qlit)).alias("d"))
        .orderBy(F.col("d").asc(), F.col("vec_id"))
        .limit(10)
        .collect()
    ]
    codes, cents, books = S.ivfpq_build(
        body, n_clusters=8, m=16, codes_k=16, coarse_iterations=2,
        pq_iterations=2, assign_n=3,
    )
    got = S.ivfpq_topk(
        body, codes, cents, books, q, k=10, nprobe=4, shortlist=100
    ).collect()
    recall = len({r["vec_id"] for r in got} & set(exact)) / 10
    assert recall >= 0.6, f"recall@10 {recall} below pinned floor"
    direct = {
        r["vec_id"]: r["d"]
        for r in body.select(
            "vec_id", F.expr(vecexpr.sq_dist("embedding", qlit)).alias("d")
        ).collect()
    }
    for r in got:
        assert abs(r["l2_dist"] - direct[r["vec_id"]]) < 1e-9


def test_numeric_profile_detects_digit_tokens(spark):
    """numeric_profile on constructed docs: digit-only vs
    digit-containing token classes count correctly, ratios and
    n_chars moments come out as the exact-integer formulas — the
    non-trivial pin for the detection the zero-digit synthetic corpus
    cannot exercise (see the operator docstring)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.text import (
        numeric_profile,
    )

    rows = [
        (1, "alpha 42 x9 7", "a", 13),     # nums: 42, 7; digit-bearing: 42, x9, 7
        (2, "beta 100", "a", 8),           # nums: 100
        (3, "gamma delta", "b", 11),       # none
        (4, "", "b", 0),                   # empty doc: 0 tokens
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source", "n_chars"])
    got = {r["source"]: r for r in numeric_profile(df).collect()}
    a, b = got["a"], got["b"]
    assert (a["n_docs"], a["total_tokens"]) == (2, 6)
    assert (a["numeric_tokens"], a["digit_tokens"]) == (3, 4)
    assert abs(a["numeric_ratio"] - 3 / 6) < 1e-15
    assert (a["min_n_chars"], a["max_n_chars"]) == (8, 13)
    assert abs(a["avg_n_chars"] - 21 / 2) < 1e-15
    assert abs(a["var_n_chars"] - ((8 * 8 + 13 * 13) / 2 - 10.5 * 10.5)) < 1e-12
    assert (b["numeric_tokens"], b["digit_tokens"]) == (0, 0)
    assert b["total_tokens"] == 2

    # cross-engine differential ON DIGIT-BEARING DOCS: the registered
    # oracle only sees the zero-digit synthetic corpus, so run the
    # same oracle SQL over these constructed rows in DuckDB and demand
    # full-row equality — pinning Spark rlike == DuckDB regexp_matches
    # for the digit patterns where it matters
    import duckdb

    from clickstreaming_end_to_end_data_engineering_project_spark.plans.registry import (
        all_specs,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS "
        "SELECT * FROM (VALUES "
        + ",".join(
            f"({d}, '{t}', 'en', '{s}', {n})" for d, t, s, n in rows
        )
        + ") AS v(doc_id, text, lang, source, n_chars)"
    )
    want = {
        r[0]: r
        for r in con.execute(all_specs()["doc_numeric_profile"].oracle).fetchall()
    }
    con.close()
    for r in numeric_profile(df).collect():
        w = want[r["source"]]
        got_row = (
            r["source"], r["n_docs"], r["total_tokens"], r["numeric_tokens"],
            r["digit_tokens"], r["numeric_ratio"], r["min_n_chars"],
            r["max_n_chars"], r["avg_n_chars"], r["var_n_chars"],
        )
        assert got_row == tuple(w), (got_row, w)


def test_token_entropy_closed_forms(spark):
    """token_entropy against hand-computable distributions: k distinct
    uniform tokens -> ln k; one repeated token -> 0; a 2:1:1 mix ->
    the exact formula. Also pins type_token_ratio and the KL operator:
    a source identical to the corpus mix has KL ~ 0, and KL is always
    >= 0 with higher divergence for a lexically disjoint source."""
    import math

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.text import (
        source_unigram_kl,
        token_entropy,
    )

    rows = [
        (1, "a b c d", "s1"),
        (2, "x x x x", "s1"),
        (3, "a a b c", "s2"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    ent = {r["doc_id"]: r for r in token_entropy(df).collect()}
    assert abs(ent[1]["entropy_nats"] - round(math.log(4), 6)) < 1e-9
    assert ent[1]["type_token_ratio"] == 1.0
    assert ent[2]["entropy_nats"] == 0.0
    assert ent[2]["type_token_ratio"] == 0.25
    h3 = -(0.5 * math.log(0.5) + 0.25 * math.log(0.25) * 2)
    assert abs(ent[3]["entropy_nats"] - h3) < 1e-6

    # KL: one source == corpus distribution (KL 0), disjoint source diverges
    kl_rows = [
        (1, "a b", "same"),
        (2, "a b", "other"),
        (3, "z z", "far"),
    ]
    kl = {
        r["source"]: r
        for r in source_unigram_kl(
            spark.createDataFrame(kl_rows, ["doc_id", "text", "source"])
        ).collect()
    }
    assert all(r["kl_nats"] >= 0 for r in kl.values())
    assert kl["far"]["kl_nats"] > kl["same"]["kl_nats"]
    # 'same' and 'other' are identical distributions -> identical KL
    assert kl["same"]["kl_nats"] == kl["other"]["kl_nats"]


def test_ivfpq_written_index_probe_matches_in_memory(spark, sf_dir, tmp_path):
    """write_ivfpq_index + ivfpq_topk_indexed round-trip: the
    stored-layout probe must return exactly what ivfpq_topk computes
    over an in-memory build with the same parameters (both builds are
    deterministic), the probed-cluster scan must touch ONLY the
    probed cluster=<c> partition dirs (partition pruning — the scan
    bound the layout exists for), and a wrong-dims query is rejected."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load
    from pyspark.sql import functions as F

    embs = S.unit_normalize(load(spark, sf_dir, "embeddings")).localCheckpoint(
        eager=True
    )
    q = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    body = embs.filter(F.col("vec_id") != 0)
    path = str(tmp_path / "ivfpq")
    kw = dict(
        n_clusters=6, m=4, codes_k=8, coarse_iterations=2, pq_iterations=1, assign_n=2
    )
    S.write_ivfpq_index(body, path, **kw)
    got = S.ivfpq_topk_indexed(
        spark, path, body, q, k=10, nprobe=3, shortlist=60
    ).collect()
    codes, cents, books = S.ivfpq_build(body, **kw)
    want = S.ivfpq_topk(
        body, codes, cents, books, q, k=10, nprobe=3, shortlist=60
    ).collect()
    assert [(r["vec_id"], r["l2_dist"]) for r in got] == [
        (r["vec_id"], r["l2_dist"]) for r in want
    ]

    # partition pruning: a probed-subset scan only READS probed dirs
    # (input_file_name over the executed rows — inputFiles() reports
    # the unfiltered FileIndex and would not see the pruning)
    stored = spark.read.parquet(path + "/codes")
    probed = [c for c, _ in sorted(cents)[:3]]
    files = [
        r[0]
        for r in stored.filter(F.col("cluster").isin(probed))
        .select(F.input_file_name())
        .distinct()
        .collect()
    ]
    assert files, "expected a non-empty probed scan"
    for f in files:
        assert any(f"cluster={c}/" in f for c in probed), f
    plan = (
        stored.filter(F.col("cluster").isin(probed))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "cluster" in plan

    with pytest.raises(ValueError, match="dims"):
        S.ivfpq_topk_indexed(spark, path, body, q[:8], k=5)


@pytest.mark.slow
def test_token_entropy_and_kl_match_python_reference(spark):
    """Property (hypothesis): for ANY corpus over a tiny vocabulary,
    token_entropy and source_unigram_kl equal a pure-Python reference
    (Counter + math.log) to well inside the dround-6 grid — pinning
    the single-pass identity H = ln N − Σ tf·ln tf / N and the
    one-frame KL assembly against the textbook definitions."""
    import math
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.text import (
        source_unigram_kl,
        token_entropy,
    )

    vocab = ["aa", "bb", "cc", "dd", "ee"]
    doc_strategy = st.lists(st.sampled_from(vocab), min_size=1, max_size=12).map(
        " ".join
    )

    @settings(max_examples=8, deadline=None)
    @given(st.lists(doc_strategy, min_size=1, max_size=6))
    def check(texts):
        rows = [(i, t, f"s{i % 2}") for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, ["doc_id", "text", "source"])

        got_ent = {r["doc_id"]: r for r in token_entropy(df).collect()}
        for i, t, _ in rows:
            c = Counter(t.split())
            n = sum(c.values())
            h = -sum((v / n) * math.log(v / n) for v in c.values())
            assert abs(got_ent[i]["entropy_nats"] - h) < 2e-6, (i, t)
            assert got_ent[i]["n_tokens"] == n
            assert got_ent[i]["n_distinct"] == len(c)

        got_kl = {r["source"]: r for r in source_unigram_kl(df).collect()}
        corpus = Counter(tok for _, t, _ in rows for tok in t.split())
        total = sum(corpus.values())
        by_src: dict[str, Counter] = {}
        for _, t, s in rows:
            by_src.setdefault(s, Counter()).update(t.split())
        for s, cnt in by_src.items():
            ts = sum(cnt.values())
            kl = sum(
                (v / ts) * math.log((v / ts) / (corpus[tok] / total))
                for tok, v in cnt.items()
            )
            assert abs(got_kl[s]["kl_nats"] - kl) < 2e-6, s
            assert got_kl[s]["n_tokens"] == ts
            assert got_kl[s]["n_distinct_tokens"] == len(cnt)

    check()


def test_length_quantiles_closed_form(spark):
    """length_quantiles on a known distribution: 10 docs with values
    1..10 in one group -> p25 = value at rank ceil(2.5)=3, p50 at 5,
    p75 at 8, p90 at 9, p99 at 10 ((p*n+99)//100 integer ranks); a
    single-row group returns its value at every percentile."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.text import (
        length_quantiles,
    )

    rows = [(i, "t", "a", v) for i, v in enumerate([7, 3, 10, 1, 5, 9, 2, 8, 4, 6])]
    rows.append((99, "t", "b", 42))
    df = spark.createDataFrame(rows, ["doc_id", "text", "source", "n_chars"])
    got = {r["source"]: r for r in length_quantiles(df).collect()}
    a = got["a"]
    assert a["n_docs"] == 10
    assert (a["p25"], a["p50"], a["p75"], a["p90"], a["p99"]) == (3, 5, 8, 9, 10)
    b = got["b"]
    assert b["n_docs"] == 1
    assert (b["p25"], b["p50"], b["p75"], b["p90"], b["p99"]) == (42,) * 5


def test_length_quantiles_approx_error_bound(spark, sf_dir):
    """The percentile_approx serving twin vs the exact operator (the
    A4 exact/approx pattern): per group and percentile, the approx
    value must be an actual group value whose RANK in the sorted group
    is within n/accuracy + 1 of the exact integer rank (p*n+99)//100 —
    the Greenwald-Khanna guarantee.  Checked on a synthetic 1..1000
    group (bound = 1.1 → ranks within ±1) AND on the fixture corpus."""
    import bisect

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.text import (
        length_quantiles,
        length_quantiles_approx,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    percentiles = (25, 50, 75, 90, 99)

    def check(df):
        exact = {r["source"]: r for r in length_quantiles(df).collect()}
        approx = {r["source"]: r for r in length_quantiles_approx(df).collect()}
        assert set(exact) == set(approx)
        grouped: dict = {}
        for row in df.select("source", "n_chars").collect():
            grouped.setdefault(row["source"], []).append(row["n_chars"])
        for src, vals in grouped.items():
            vals.sort()
            n = len(vals)
            assert approx[src]["n_docs"] == n == exact[src]["n_docs"]
            bound = n / 10000 + 1
            for p in percentiles:
                got = approx[src][f"p{p}"]
                # must be an actual group value (GK returns inputs)
                lo = bisect.bisect_left(vals, got)
                hi = bisect.bisect_right(vals, got)
                assert lo < hi, f"{src} p{p}: {got} not a group value"
                target = (p * n + 99) // 100  # 1-based exact rank
                # nearest 1-based rank the approx value occupies
                err = min(abs(r - target) for r in range(lo + 1, hi + 1))
                assert err <= bound, f"{src} p{p}: rank err {err} > {bound}"

    rows = [(i, "t", "g", v) for i, v in enumerate(range(1, 1001))]
    check(spark.createDataFrame(rows, ["doc_id", "text", "source", "n_chars"]))
    check(load(spark, sf_dir, "documents"))


def test_ivf_written_index_probe_matches_learned(spark, sf_dir, tmp_path):
    """write_ivf_index + ivf_topk_indexed: the stored-layout probe
    must return exactly ivf_topk_learned's rows for the same
    (n_clusters, iterations) — the written layout is the same learned
    assignment, same centroid cosine ranking (driver-side fold order
    matches Spark's left-to-right aggregate), same exact in-cluster
    rerank.  The probed scan reads ONLY the probed cluster dirs, and
    wrong-dims queries are rejected."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load
    from pyspark.sql import functions as F

    embs = load(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    q = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    path = str(tmp_path / "ivf")
    S.write_ivf_index(embs, path, n_clusters=6, iterations=2)
    got = S.ivf_topk_indexed(
        spark, path, q, k=10, nprobe=3, exclude_vec_id=0
    ).collect()
    want = S.ivf_topk_learned(
        embs, 0, k=10, n_clusters=6, nprobe=3, iterations=2
    ).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in got] == [
        (r["vec_id"], r["cos_sim"]) for r in want
    ]

    files = [
        r[0]
        for r in spark.read.parquet(path + "/vectors")
        .filter(F.col("cluster").isin([0, 1]))
        .select(F.input_file_name())
        .distinct()
        .collect()
    ]
    assert files and all(
        "cluster=0/" in f or "cluster=1/" in f for f in files
    ), files

    with pytest.raises(ValueError, match="dims"):
        S.ivf_topk_indexed(spark, path, q[:5], k=5)


def test_new_profile_operators_handle_empty_corpus(spark):
    """Empty input → empty output (no ANSI divide/log crash, no
    degenerate row) for the r11 profile family."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.text import (
        length_quantiles,
        numeric_profile,
        source_unigram_kl,
        token_entropy,
    )

    empty = spark.createDataFrame(
        [], "doc_id long, text string, source string, n_chars long"
    )
    assert numeric_profile(empty).count() == 0
    assert token_entropy(empty).count() == 0
    assert source_unigram_kl(empty).count() == 0
    assert length_quantiles(empty).count() == 0


def test_topk_batch_matches_per_query_and_windowgrouplimit(spark, sf_dir):
    """brute_force_topk_batch: per query, exactly the single-query
    brute_force_topk rows; the per-query top-k must plan as
    WindowGroupLimit (map-side local top-k per query before the
    shuffle — without it the shuffle carries the corpus×Q cross
    product) over a broadcast of the query set."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    embs = load(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = S.brute_force_topk_batch(embs, queries, k=10)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["rnk"], r["vec_id"], r["cos_sim"]))
    assert set(got) == {0, 1, 2, 3, 4}
    for qid in range(5):
        want = S.brute_force_topk(embs, qid, k=10).collect()
        rows = sorted(got[qid])
        assert [v for _, v, _ in rows] == [r["vec_id"] for r in want]
        for (_, _, a), r in zip(rows, want):
            assert abs(a - r["cos_sim"]) < 1e-12

    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, "per-query top-k must push map-side"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ivf_indexed_batch_matches_single_query(spark, sf_dir, tmp_path):
    """ivf_topk_indexed_batch over a written index: per query,
    bit-identical to the single-query ivf_topk_indexed at the same
    nprobe, and the batch scan's partition filter covers only the
    UNION of probed clusters."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    embs = load(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(embs, path, n_clusters=6, iterations=2)
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in embs.filter(F.col("vec_id") < 3).collect()
    ]
    batch = S.ivf_topk_indexed_batch(spark, path, qs, k=10, nprobe=2)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["rnk"], r["vec_id"], r["cos_sim"]))
    for qid, qv in qs:
        want = S.ivf_topk_indexed(
            spark, path, qv, k=10, nprobe=2, exclude_vec_id=qid
        ).collect()
        rows = sorted(got.get(qid, []))
        assert [v for _, v, _ in rows] == [r["vec_id"] for r in want], f"query {qid}"
        for (_, _, a), r in zip(rows, want):
            assert a == r["cos_sim"]

    plan = batch._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters", 1)[1][:200]
    assert "cluster" in seg, f"probed-cluster union must be a partition filter: {seg}"
    import pytest

    with pytest.raises(ValueError, match="dims"):
        S.ivf_topk_indexed_batch(spark, path, [(0, [1.0, 2.0])], k=5)


def test_pagerank_matches_python_reference_and_conserves_mass(spark):
    """Differential: operators/components.pagerank vs a pure-Python
    power iteration on a random weighted digraph WITH dangling
    vertices, replicating the per-round 12-dp fixed-point rounding.
    Also pins mass conservation (sum of ranks == 1 up to rounding)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.components import (
        pagerank,
    )

    rng = random.Random(77)
    verts = list(range(12))
    edges = []
    for u in verts[:9]:  # vertices 9-11 get no out-edges -> dangling
        for v in rng.sample(verts, rng.randint(1, 4)):
            edges.append((u, v, rng.randint(1, 5)))
    # collapse duplicates like the caller would
    agg: dict[tuple[int, int], int] = {}
    for u, v, w in edges:
        agg[(u, v)] = agg.get((u, v), 0) + w
    edf = spark.createDataFrame(
        [(u, v, w) for (u, v), w in agg.items()], ["src", "dst", "weight"]
    )
    got = {
        r["vertex"]: r["rank"]
        for r in pagerank(edf, iterations=5, damping=0.85).collect()
    }

    def rnd(x: float, dp: int = 12) -> float:
        import math

        s = float(10**dp)
        return math.floor(x * s + 0.5) / s

    nodes = sorted({u for u, _ in agg} | {v for _, v in agg})
    n = len(nodes)
    outw = {}
    for (u, _), w in agg.items():
        outw[u] = outw.get(u, 0.0) + float(w)
    p = {(u, v): float(w) / outw[u] for (u, v), w in agg.items()}
    rank = {v: 1.0 / n for v in nodes}
    base = (1.0 - 0.85) / n
    for _ in range(5):
        mass = sum(rank[v] for v in nodes if v not in outw)
        contrib = {v: 0.0 for v in nodes}
        for (u, v), pr in p.items():
            contrib[v] += rank[u] * pr
        rank = {
            v: rnd(base + 0.85 * (contrib[v] + mass / n)) for v in nodes
        }
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - rank[v]) < 1e-9, (v, got[v], rank[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9 * len(nodes)


def test_pagerank_uniform_on_symmetric_cycle(spark):
    """A directed cycle is perfectly symmetric: every vertex must end
    at exactly rank 1/n regardless of iteration count."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.components import (
        pagerank,
    )

    n = 8
    edf = spark.createDataFrame(
        [(i, (i + 1) % n, 1) for i in range(n)], ["src", "dst", "weight"]
    )
    ranks = [r["rank"] for r in pagerank(edf, iterations=7).collect()]
    assert len(ranks) == n
    for r in ranks:
        assert abs(r - 1.0 / n) < 1e-9


@pytest.mark.slow
def test_interval_point_join_matches_theta_join_random(spark):
    """Differential: binned interval_point_join == the naive theta
    join on random points/intervals, including bin-boundary landmines
    (points exactly on starts, ends, and bin edges; intervals ending
    exactly on bin boundaries; overlapping intervals)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.rangejoin import (
        interval_point_join,
    )

    rng = random.Random(99)
    base = dt.datetime(2024, 3, 1)
    bins = 300
    ivals = []
    for i in range(40):
        start_s = rng.randint(0, 20000)
        if i % 5 == 0:
            start_s = (start_s // bins) * bins  # start on a bin edge
        length = rng.choice([1, 299, 300, 301, 600, 900])
        ivals.append(
            (
                i,
                base + dt.timedelta(seconds=start_s),
                base + dt.timedelta(seconds=start_s + length),
            )
        )
    pts = []
    for j in range(300):
        s = rng.randint(0, 21000)
        pts.append((j, base + dt.timedelta(seconds=s)))
    # adversarial points: exactly on every 7th interval's start and end
    for k, (i, st, en) in enumerate(ivals):
        if k % 7 == 0:
            pts.append((1000 + 2 * k, st))
            pts.append((1001 + 2 * k, en))
    pdf = spark.createDataFrame(pts, ["pid", "ts"])
    idf = spark.createDataFrame(ivals, ["iid", "wstart", "wend"])

    got = {
        (r["pid"], r["iid"])
        for r in interval_point_join(
            pdf, idf, "ts", "wstart", "wend", bin_seconds=bins
        ).collect()
    }
    want = {
        (r["pid"], r["iid"])
        for r in pdf.join(
            idf, (pdf.ts >= idf.wstart) & (pdf.ts < idf.wend)
        ).collect()
    }
    assert got == want and len(want) > 50

    semi = {
        r["pid"]
        for r in interval_point_join(
            pdf, idf, "ts", "wstart", "wend", bin_seconds=bins, how="left_semi"
        ).collect()
    }
    assert semi == {pid for pid, _ in want}


def test_group_ols_matches_numpy_and_degenerate_groups(spark):
    """Differential: group_ols vs numpy lstsq per group; a
    constant-x group yields NULL slope/intercept."""
    import numpy as np
    from pyspark.sql.types import (
        DecimalType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.stats import (
        group_ols,
    )
    from decimal import Decimal

    rng = random.Random(5)
    rows = []
    for g in ("a", "b", "c"):
        for x in range(0, 24):
            y = Decimal(rng.randint(100, 99999)) / 100
            rows.append((g, x, y))
    rows += [("flat", 3, Decimal("10.00")), ("flat", 3, Decimal("20.00"))]
    schema = StructType(
        [
            StructField("g", StringType()),
            StructField("x", IntegerType()),
            StructField("y", DecimalType(12, 2)),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    got = {r["g"]: r for r in group_ols(df, ["g"], "x", "y").collect()}

    for g in ("a", "b", "c"):
        xs = np.array([x for gg, x, _ in rows if gg == g], dtype=float)
        ys = np.array([float(y) for gg, _, y in rows if gg == g], dtype=float)
        a = np.vstack([xs, np.ones_like(xs)]).T
        slope, intercept = np.linalg.lstsq(a, ys, rcond=None)[0]
        assert abs(got[g]["slope"] - slope) < 1e-5, g
        assert abs(got[g]["intercept"] - intercept) < 1e-4, g
    assert got["flat"]["slope"] is None
    assert got["flat"]["intercept"] is None


def test_hll_rollup_error_bound(spark, sf_dir):
    """HLL weekly rollup vs exact count(DISTINCT) per week: relative
    error within the lgConfigK=12 guarantee band (~1.6% stderr; bound
    at 5% ≈ 3 sigma).  Sketches are deterministic, so no flake."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sketches import (
        distinct_rollup_hll,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    ev = load(spark, sf_dir, "events")
    got = {
        r["period"]: r["approx_distinct"]
        for r in distinct_rollup_hll(ev).collect()
    }
    exact = {
        r["period"]: r["d"]
        for r in ev.groupBy(F.date_trunc("week", "ts").alias("period"))
        .agg(F.count_distinct("user_id").alias("d"))
        .collect()
    }
    assert set(got) == set(exact) and len(exact) > 3
    for p, d in exact.items():
        assert abs(got[p] - d) <= max(2, 0.05 * d), (p, got[p], d)


def test_theta_retention_error_bound(spark, sf_dir):
    """Theta intersection retention vs the exact consecutive-week
    distinct intersection.  At fixture scale theta operates in exact
    mode (< 4096 retained entries), so the bound is tight — assert 5%
    anyway so the test survives larger corpora."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sketches import (
        retention_overlap_theta,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    ev = load(spark, sf_dir, "events")
    got = {
        r["period"]: (r["approx_active"], r["approx_retained"], r["approx_churned"])
        for r in retention_overlap_theta(ev).collect()
    }
    uw = ev.select(
        F.date_trunc("week", "ts").alias("period"), "user_id"
    ).distinct()
    weeks = sorted(got)
    exact_active = {
        r["period"]: r["d"]
        for r in uw.groupBy("period").agg(F.count_distinct("user_id").alias("d")).collect()
    }
    rows = {(r["period"], r["user_id"]) for r in uw.collect()}
    assert got[weeks[0]][1] is None and got[weeks[0]][2] is None  # no previous week
    for prev, cur in zip(weeks, weeks[1:]):
        prev_set = {u for p, u in rows if p == prev}
        cur_set = {u for p, u in rows if p == cur}
        exact_ret = len(prev_set & cur_set)
        exact_churn = len(prev_set - cur_set)
        a_act, a_ret, a_churn = got[cur]
        assert abs(a_act - exact_active[cur]) <= max(2, 0.05 * exact_active[cur])
        assert abs(a_ret - exact_ret) <= max(2, 0.05 * max(exact_ret, 1)), (
            cur,
            a_ret,
            exact_ret,
        )
        assert abs(a_churn - exact_churn) <= max(2, 0.05 * max(exact_churn, 1)), (
            cur,
            a_churn,
            exact_churn,
        )


def test_kll_quantiles_rank_error_bound(spark, sf_dir):
    """KLL merged quantiles vs the exact sorted purchase values: the
    returned value's RANK must sit within eps*n of the requested rank
    (KLL k=200 -> eps ~1.65%; bound 4%).  Rank error, not value error
    — the DataSketches guarantee is on ranks."""
    import bisect

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sketches import (
        quantile_rollup_kll,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    row = quantile_rollup_kll(ev, "ts", "value").collect()[0]
    vals = sorted(r["value"] for r in ev.select("value").collect())
    n = len(vals)
    assert row["total_n"] == n and row["n_periods"] > 3
    for p in (50, 90, 99):
        v = row[f"p{p}"]
        lo = bisect.bisect_left(vals, v)
        hi = bisect.bisect_right(vals, v)
        target = p / 100 * n
        # the value's true rank interval must approach the target rank
        err = min(abs(lo - target), abs(hi - target))
        assert err <= max(2, 0.04 * n), (p, v, lo, hi, target, n)


def test_hll_sketch_parquet_roundtrip_merge(spark, sf_dir, tmp_path):
    """The persistable-state claim behind operators/sketches.py: write
    the per-day sketch table to parquet (binary column), read it back,
    and merge — the union over STORED sketches must equal the union
    over freshly built ones (sketch bytes are the state, not a cache).
    This is the incremental-ingest pattern: yesterday's sketches come
    from storage, today's from the stream, one union answers both."""
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    path = str(tmp_path / "daily_sketches")
    daily.write.parquet(path)
    stored = spark.read.parquet(path)
    assert dict(stored.dtypes)["sk"] == "binary"

    def weekly(df):
        return {
            r["week"]: r["d"]
            for r in df.groupBy(F.date_trunc("week", "day").alias("week"))
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("d"))
            .collect()
        }

    fresh, roundtrip = weekly(daily), weekly(stored)
    assert fresh == roundtrip and len(fresh) > 3
    # incremental shape: half the days from storage, half fresh — the
    # merged estimate is identical to the all-fresh union
    days = sorted(r["day"] for r in daily.select("day").distinct().collect())
    cut = days[len(days) // 2]
    mixed = stored.filter(F.col("day") < cut).unionByName(
        daily.filter(F.col("day") >= cut)
    )
    assert weekly(mixed) == fresh


def test_bm25_matches_python_reference(spark, sf_dir):
    """Differential: operators/retrieval.bm25_topk vs a pure-Python
    BM25 over the same corpus — scores to 6 dp and the exact top-10
    (with id tiebreak) must agree."""
    import math

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.retrieval import (
        bm25_topk,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    terms = ["spark", "stream", "hash", "dup"]
    k1, b = 1.2, 0.75
    docs = load(spark, sf_dir, "documents")
    got = bm25_topk(docs, terms, k=10, k1=k1, b=b).collect()

    rows = docs.select("doc_id", "text").collect()
    toks = {
        r["doc_id"]: [t for t in (r["text"] or "").split() if t]
        for r in rows
    }
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    n_docs = len(dl)
    avgdl = sum(dl.values()) / n_docs

    def rnd(x, dp):
        s = float(10**dp)
        return math.floor(x * s + 0.5) / s

    tf = {}
    for d, ts in toks.items():
        for t in ts:
            if t in terms:
                tf[(d, t)] = tf.get((d, t), 0) + 1
    df = {}
    for (_, t) in tf:
        df[t] = df.get(t, 0) + 1
    scores = {}
    for (d, t), f in tf.items():
        idf = rnd(math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5)), 12)
        part = idf * (f * (k1 + 1.0)) / (f + k1 * ((1.0 - b) + b * dl[d] / avgdl))
        scores.setdefault(d, []).append(part)
    final = sorted(
        ((rnd(sum(ps), 6), d, len(ps)) for d, ps in scores.items()),
        key=lambda x: (-x[0], x[1]),
    )[:10]
    want = [(d, n, s) for s, d, n in final]
    assert [(r["doc_id"], r["n_matched_terms"], r["bm25_score"]) for r in got] == want


def test_rrf_fuse_matches_hand_computation(spark):
    """RRF over two hand-built rankings: fused scores are exact
    rational sums; doc in both lists must outrank docs in one."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.retrieval import (
        rrf_fuse,
    )

    a = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], ["doc_id", "rank"])
    b = spark.createDataFrame([(20, 1), (40, 2)], ["doc_id", "rank"])
    got = {r["doc_id"]: (r["n_lists"], r["rrf_score"]) for r in rrf_fuse([a, b], k=10).collect()}
    assert got[20] == (2, 1.0 / 62 + 1.0 / 61)
    assert got[10] == (1, 1.0 / 61)
    assert got[40] == (1, 1.0 / 62)
    assert got[30] == (1, 1.0 / 63)
    order = [r["doc_id"] for r in rrf_fuse([a, b], k=10).collect()]
    assert order[0] == 20


def test_group_corr_matches_numpy_and_degenerates(spark):
    """Differential: group_corr vs numpy corrcoef per group; zero
    variance in either column yields NULL."""
    import numpy as np

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.stats import (
        group_corr,
    )

    rng = random.Random(11)
    rows = []
    for g in ("pos", "neg", "noisy"):
        for i in range(40):
            x = rng.randint(0, 1000)
            if g == "pos":
                y = 2 * x + rng.randint(0, 50)
            elif g == "neg":
                y = 5000 - 3 * x + rng.randint(0, 50)
            else:
                y = rng.randint(0, 5000)
            rows.append((g, x, y))
    rows += [("flatx", 7, v) for v in (1, 5, 9)]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    got = {r["g"]: r for r in group_corr(df, ["g"], "x", "y").collect()}
    for g in ("pos", "neg", "noisy"):
        xs = np.array([x for gg, x, _ in rows if gg == g], dtype=float)
        ys = np.array([y for gg, _, y in rows if gg == g], dtype=float)
        want = np.corrcoef(xs, ys)[0, 1]
        assert abs(got[g]["corr"] - want) < 1e-6, g
    assert got["pos"]["corr"] > 0.9 and got["neg"]["corr"] < -0.9
    assert got["flatx"]["corr"] is None


def test_bm25_written_index_probe_matches_in_memory(spark, sf_dir, tmp_path):
    """write_bm25_index / bm25_topk_indexed: the probe must (a) return
    ROW-FOR-ROW what the on-the-fly bm25_topk returns (same scoring
    tail by construction — this pins it), (b) scan ONLY the query
    terms' bucket directories (bucket predicate in PartitionFilters +
    executed file list confined to those buckets), and (c) never
    tokenize: the probe plan reads the postings/sidecar parquet only."""
    import zlib

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
        write_bm25_index,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    terms = ["spark", "stream", "hash", "dup"]
    docs = load(spark, sf_dir, "documents")
    path = str(tmp_path / "bm25_index")
    write_bm25_index(docs, path, n_buckets=64)

    probe = bm25_topk_indexed(spark, path, terms, k=10)
    got = [(r["doc_id"], r["n_matched_terms"], r["bm25_score"]) for r in probe.collect()]
    want = [
        (r["doc_id"], r["n_matched_terms"], r["bm25_score"])
        for r in bm25_topk(docs, terms, k=10).collect()
    ]
    assert got == want and len(got) == 10

    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:300]
    assert "bucket" in seg, f"bucket predicate must be a partition filter: {seg}"

    # executed scan reads only the probed buckets' directories
    # (input_file_name rejects multi-source plans, so drive the same
    # pruned postings scan the probe plans and list ITS files)
    probed = {zlib.crc32(t.encode()) % 64 for t in terms}
    pruned = (
        spark.read.parquet(path)
        .filter(F.col("bucket").isin(sorted(probed)))
        .filter(F.col("_t").isin(terms))
    )
    files = [r[0] for r in pruned.select(F.input_file_name()).distinct().collect()]
    posting_files = [f for f in files if "bucket=" in f]
    assert posting_files, files
    seen_buckets = {int(f.split("bucket=")[1].split("/")[0]) for f in posting_files}
    assert seen_buckets <= probed, (seen_buckets, probed)


def test_new_operator_families_handle_empty_input(spark):
    """Degenerate-input sweep for the r12-late operator families:
    empty frames must yield empty (or NULL-safe) results, never a
    crash — the guard an unattended 100 TB pipeline needs when a
    filter stage drops everything."""
    import datetime as _dt

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.components import (
        pagerank,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.rangejoin import (
        interval_point_join,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sketches import (
        distinct_rollup_hll,
        quantile_rollup_kll,
        retention_overlap_theta,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.stats import (
        group_corr,
        group_ols,
    )

    edges = spark.createDataFrame(
        [], StructType([StructField("src", LongType()), StructField("dst", LongType()), StructField("weight", LongType())])
    )
    assert pagerank(edges, iterations=3).count() == 0

    ts_schema = StructType([StructField("pid", LongType()), StructField("ts", TimestampType())])
    iv_schema = StructType(
        [StructField("iid", LongType()), StructField("ws", TimestampType()), StructField("we", TimestampType())]
    )
    pts = spark.createDataFrame([], ts_schema)
    ivs = spark.createDataFrame([(1, _dt.datetime(2024, 1, 1), _dt.datetime(2024, 1, 2))], iv_schema)
    assert interval_point_join(pts, ivs, "ts", "ws", "we").count() == 0
    assert (
        interval_point_join(
            spark.createDataFrame([(1, _dt.datetime(2024, 1, 1, 12))], ts_schema),
            spark.createDataFrame([], iv_schema),
            "ts", "ws", "we",
        ).count()
        == 0
    )

    docs = spark.createDataFrame(
        [], StructType([StructField("doc_id", LongType()), StructField("text", StringType())])
    )
    assert bm25_topk(docs, ["spark"], k=5).count() == 0
    ranks = spark.createDataFrame(
        [], StructType([StructField("doc_id", LongType()), StructField("rank", IntegerType())])
    )
    assert rrf_fuse([ranks, ranks], k=5).count() == 0

    g = spark.createDataFrame(
        [],
        StructType(
            [StructField("g", StringType()), StructField("x", IntegerType()), StructField("y", IntegerType())]
        ),
    )
    assert group_corr(g, ["g"], "x", "y").count() == 0
    assert group_ols(g.withColumn("y", F.col("y").cast("decimal(12,2)")), ["g"], "x", "y").count() == 0

    ev = spark.createDataFrame(
        [], StructType([StructField("ts", TimestampType()), StructField("user_id", LongType()), StructField("value", StringType())])
    )
    assert distinct_rollup_hll(ev).count() == 0
    assert retention_overlap_theta(ev).count() == 0
    row = quantile_rollup_kll(ev, "ts", "value").collect()
    assert len(row) == 1 and row[0]["n_periods"] == 0


def test_weighted_reservoir_favors_weight_and_is_exact_k(spark):
    """Statistical sanity for the A-Res sampler: with weights 1 vs
    1000 the heavy rows must dominate the fixed-size sample (each
    light row wins over a heavy one with probability ~w_l/(w_l+w_h));
    output is exactly k per group and deterministic across calls."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sampling import (
        weighted_reservoir,
    )

    rows = [("g", i, 1000 if i % 2 == 0 else 1) for i in range(500)]
    rows += [("h", i, 10) for i in range(30)] + [("h", 1000 + i, None) for i in range(3)]
    df = spark.createDataFrame(rows, ["grp", "doc_id", "w"])
    out = weighted_reservoir(df, ["grp"], k=50, weight_col="w", id_col="doc_id")
    got = out.collect()
    by_grp = {}
    for r in got:
        by_grp.setdefault(r["grp"], []).append(r)
    assert len(by_grp["g"]) == 50
    heavy = sum(1 for r in by_grp["g"] if r["w"] == 1000)
    assert heavy >= 45, heavy
    # group smaller than k: everything with a valid weight survives
    assert len(by_grp["h"]) == 30
    # deterministic: identical on a second run
    again = weighted_reservoir(df, ["grp"], k=50, weight_col="w", id_col="doc_id")
    assert sorted(map(tuple, got)) == sorted(map(tuple, again.collect()))


@pytest.mark.slow
def test_pagerank_shuffle_path_equals_broadcast_path(spark):
    """The generic shuffle-join path (graphs above the broadcast
    threshold) must produce BIT-identical ranks to the small-graph
    broadcast path — same math, different physical strategy
    (broadcast_threshold=0 forces the big-graph plan on the fixture)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.components import (
        pagerank,
    )

    rng = random.Random(21)
    edges = {}
    for u in range(30):
        for v in rng.sample(range(40), rng.randint(1, 5)):
            edges[(u, v)] = edges.get((u, v), 0) + rng.randint(1, 3)
    edf = spark.createDataFrame(
        [(u, v, w) for (u, v), w in edges.items()], ["src", "dst", "weight"]
    )
    small = {r["vertex"]: r["rank"] for r in pagerank(edf, iterations=4).collect()}
    big = {
        r["vertex"]: r["rank"]
        for r in pagerank(edf, iterations=4, broadcast_threshold=0).collect()
    }
    assert small == big and len(small) >= 35

def test_bm25_bag_semantics_weight_duplicate_query_terms(spark, tmp_path):
    """r12 advisory: a term repeated in the query must contribute per
    occurrence (standard bag-of-terms BM25 query weighting), not once.
    Pinned against a pure-Python computation on a hand corpus, and the
    written-index probe must stay row-for-row equal to the in-memory
    operator under the duplicated query."""
    import math

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
        write_bm25_index,
    )

    k1, b = 1.2, 0.75
    corpus = [(1, "x y x"), (2, "x z"), (3, "y z z"), (4, "w w")]
    docs = spark.createDataFrame(corpus, ["doc_id", "text"])
    query = ["x", "x", "y"]  # 'x' twice: its contribution doubles
    got = bm25_topk(docs, query, k=10, k1=k1, b=b).collect()

    def rnd(x, dp):
        s = float(10**dp)
        return math.floor(x * s + 0.5) / s

    toks = {d: t.split() for d, t in corpus}
    dl = {d: len(ts) for d, ts in toks.items()}
    n_docs, avgdl = len(dl), sum(dl.values()) / len(dl)
    qtf = {"x": 2.0, "y": 1.0}
    tf, df = {}, {}
    for d, ts in toks.items():
        for t in ts:
            if t in qtf:
                tf[(d, t)] = tf.get((d, t), 0) + 1
    for (_, t) in tf:
        df[t] = df.get(t, 0) + 1
    scores = {}
    for (d, t), f in tf.items():
        idf = rnd(math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5)), 12)
        part = qtf[t] * (
            idf * (f * (k1 + 1.0)) / (f + k1 * ((1.0 - b) + b * dl[d] / avgdl))
        )
        scores.setdefault(d, []).append(part)
    want = [
        (d, n, s)
        for s, d, n in sorted(
            ((rnd(sum(ps), 6), d, len(ps)) for d, ps in scores.items()),
            key=lambda x: (-x[0], x[1]),
        )
    ]
    assert [(r["doc_id"], r["n_matched_terms"], r["bm25_score"]) for r in got] == want
    # doc 1 (two 'x' + one 'y') must now clearly outrank doc 2 (one 'x')
    assert got[0]["doc_id"] == 1

    idx = str(tmp_path / "bm25_dupterms")
    write_bm25_index(docs, idx, n_buckets=8)
    got_idx = bm25_topk_indexed(spark, idx, query, k=10, k1=k1, b=b).collect()
    assert [tuple(r) for r in got_idx] == [tuple(r) for r in got]


def test_pagerank_rejects_nonpositive_or_null_weights(spark):
    """r12 advisory: a src whose weights sum to 0 (or are NULL) would
    get NULL/NaN transition probabilities — its rank neither propagates
    nor counts as dangling mass, silently leaking total mass.  The
    operator now refuses such edges up front."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.components import (
        pagerank,
    )

    for bad in (0.0, -1.0, None):
        edges = spark.createDataFrame(
            [(1, 2, 1.0), (2, 1, bad)], "src long, dst long, weight double"
        )
        with pytest.raises(ValueError, match="positive and non-null"):
            pagerank(edges, iterations=1)


def test_weighted_reservoir_k_at_and_beyond_group_size(spark):
    """r12 verdict #6: the k-vs-group-size edge.  k == n returns every
    (positive-weight) row of the group; k > n must not invent rows;
    groups larger and smaller than k coexist correctly."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sampling import (
        weighted_reservoir,
    )

    rows = [("a", i, float(i + 1)) for i in range(3)] + [
        ("b", 10 + i, 1.0) for i in range(8)
    ] + [("a", 99, 0.0), ("a", 98, None)]  # excluded: non-positive/NULL weight
    df = spark.createDataFrame(rows, "lang string, doc_id long, w double")

    exact = weighted_reservoir(df, ["lang"], k=3, weight_col="w")
    by_group = {
        g: sorted(r["doc_id"] for r in exact.collect() if r["lang"] == g)
        for g in ("a", "b")
    }
    assert by_group["a"] == [0, 1, 2]  # k == n_valid: the whole group, once
    assert len(by_group["b"]) == 3

    over = weighted_reservoir(df, ["lang"], k=100, weight_col="w")
    counts = {r["lang"]: r["n"] for r in over.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"a": 3, "b": 8}  # k > n: all valid rows, no extras

def test_bm25_empty_query_returns_empty_frame(spark, tmp_path):
    """r13 advisory (low): _qtf_col([]) has no CASE branches to build,
    so an empty query_terms list crashed bm25_topk/bm25_topk_indexed
    with AttributeError after the r12 bag-semantics change.  The
    pre-r12 contract is restored: empty query → empty result frame,
    same (id, n_matched_terms, bm25_score) schema on both forms."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
        write_bm25_index,
    )

    docs = spark.createDataFrame(
        [(1, "spark stream"), (2, "hash dup")], "doc_id long, text string"
    )
    mem = bm25_topk(docs, [], k=5)
    assert mem.columns == ["doc_id", "n_matched_terms", "bm25_score"]
    assert mem.count() == 0

    idx = str(tmp_path / "bm25_emptyq")
    write_bm25_index(docs, idx, n_buckets=4)
    probed = bm25_topk_indexed(spark, idx, [], k=5)
    assert probed.columns == ["doc_id", "n_matched_terms", "bm25_score"]
    assert probed.count() == 0


def test_ivf_append_assigns_by_build_euclidean_rule(spark, tmp_path):
    """r13 advisory (low): append_ivf_index used to place new vectors
    by COSINE while the build's kmeans_assign places by squared
    Euclidean — for non-unit-norm vectors the two rules pick different
    clusters, so appended vectors followed different placement geometry
    than a rebuild's.  Now the append uses the build's own rule: this
    vector's direction favors the far high-norm centroid (cosine) but
    its position is next to the near one (Euclidean) — it must land
    where a rebuild would put it."""
    import math
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )

    # two well-separated groups → centroids ≈ [~10, 0] and [0, ~1]
    pts = spark.createDataFrame(
        [(0, [10.0, 0.0]), (1, [10.2, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 1.2])],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "ivf_euclid")
    S.write_ivf_index(pts, idx, n_clusters=2, iterations=2)
    cents = {
        int(r["cluster"]): [float(x) for x in r["centroid"]]
        for r in spark.read.parquet(os.path.join(idx, "_ivf_centroids")).collect()
    }

    v = [0.5, 0.4]  # small-norm vector pointing toward the far centroid

    def _sq(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    def _cos(a, b):
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    want_euclid = min(cents, key=lambda c: (_sq(v, cents[c]), c))
    want_cosine = max(cents, key=lambda c: (_cos(v, cents[c]), -c))
    # the fixture must actually exercise the divergence
    assert want_euclid != want_cosine

    S.append_ivf_index(
        spark.createDataFrame([(100, v)], "vec_id long, embedding array<double>"),
        idx,
    )
    landed = (
        spark.read.parquet(os.path.join(idx, "vectors"))
        .filter(F.col("vec_id") == 100)
        .select("cluster")
        .head()["cluster"]
    )
    assert int(landed) == want_euclid


def test_bm25_append_probe_equals_full_rebuild(spark, sf_dir, tmp_path):
    """r12 verdict #4: incremental maintenance for a written index.
    write(A) + append(B) must probe BIT-EQUAL to a full rebuild over
    A∪B — df/N/avgdl all merge as exact integer sums across segments.
    Appending already-indexed doc ids raises (double-counted stats);
    appending to a missing path raises."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.retrieval import (
        append_bm25_index,
        bm25_topk_indexed,
        write_bm25_index,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    terms = ["spark", "stream", "hash", "dup"]
    docs = load(spark, sf_dir, "documents")
    part_a = docs.filter(F.col("doc_id") % 10 < 7)
    part_b = docs.filter(F.col("doc_id") % 10 >= 7)

    inc = str(tmp_path / "bm25_incremental")
    write_bm25_index(part_a, inc, n_buckets=16)
    out = append_bm25_index(part_b, inc)
    assert out["batch_id"] == 1 and out["n_docs"] > 0

    full = str(tmp_path / "bm25_full")
    write_bm25_index(docs, full, n_buckets=16)

    got = [tuple(r) for r in bm25_topk_indexed(spark, inc, terms, k=10).collect()]
    want = [tuple(r) for r in bm25_topk_indexed(spark, full, terms, k=10).collect()]
    assert got == want and len(got) == 10

    with pytest.raises(ValueError, match="already exist"):
        append_bm25_index(part_b.limit(5), inc)
    with pytest.raises(ValueError, match="no index"):
        append_bm25_index(part_b, str(tmp_path / "nope"))

    # compaction collapses the segments losslessly: probes bit-equal,
    # one batch=0 segment left, appends still work afterwards
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import segstore

    segstore.compact("bm25", spark, inc)
    assert [
        tuple(r) for r in bm25_topk_indexed(spark, inc, terms, k=10).collect()
    ] == want
    assert sorted(d for d in os.listdir(inc) if d.startswith("batch=")) == ["batch=0"]
    extra = part_b.limit(3).withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
    assert append_bm25_index(extra, inc)["batch_id"] == 1

def test_lsh_append_probe_equals_full_rebuild(spark, sf_dir, tmp_path):
    """r13 (verdict missing #3 → the LSH member): write(A) + append(B)
    must probe identically to a full rebuild over A∪B — hyperplanes
    are content-deterministic (nothing trained), so this is exact
    equality on both query forms, not a recall statement.  Overlapping
    ids and a missing index raise."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    embs = load(spark, sf_dir, "embeddings")
    part_a = embs.filter(F.col("vec_id") % 5 < 3)   # contains vec_id 0
    part_b = embs.filter(F.col("vec_id") % 5 >= 3)

    inc = str(tmp_path / "lsh_incremental")
    S.write_lsh_index(part_a, inc, planes=4, dims=64)
    out = S.append_lsh_index(part_b, inc)
    assert out["batch_id"] == 1 and out["n_vectors"] > 0

    full = str(tmp_path / "lsh_full")
    S.write_lsh_index(embs, full, planes=4, dims=64)

    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    for kwargs in (
        {"query_vec_id": 0},                      # id probe via _id_map
        {"query_vec": qvec, "nprobe": 4},         # vector probe, multi-probe
    ):
        got = [tuple(r) for r in S.lsh_topk_indexed(spark, inc, k=10, **kwargs).collect()]
        want = [tuple(r) for r in S.lsh_topk_indexed(spark, full, k=10, **kwargs).collect()]
        assert got == want and len(got) == 10, kwargs

    with pytest.raises(ValueError, match="already exist"):
        S.append_lsh_index(part_b.limit(3), inc)
    with pytest.raises(ValueError, match="no index"):
        S.append_lsh_index(part_b, str(tmp_path / "missing"))


def test_ivf_append_exhaustive_probe_equals_brute_force(spark, sf_dir, tmp_path):
    """r13 (verdict missing #3 → the IVF member): append assigns new
    vectors to the STORED centroids (Faiss add-after-train), so an
    exhaustive probe (nprobe = n_clusters) over the appended index must
    equal brute-force cosine over the union — appends can never corrupt
    scores.  Replaying a batch id moves nothing; dim mismatches and id
    overlaps raise."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    embs = load(spark, sf_dir, "embeddings")
    part_a = embs.filter(F.col("vec_id") % 5 < 3)
    part_b = embs.filter(F.col("vec_id") % 5 >= 3)

    idx = str(tmp_path / "ivf_incremental")
    S.write_ivf_index(part_a, idx, n_clusters=6, iterations=2)
    out = S.append_ivf_index(part_b, idx)
    assert out["batch_id"] == 1 and out["n_vectors"] > 0

    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    got = [
        tuple(r)
        for r in S.ivf_topk_indexed(
            spark, idx, qvec, k=10, nprobe=6, exclude_vec_id=0
        ).collect()
    ]
    want = [tuple(r) for r in S.brute_force_topk(embs, 0, k=10).collect()]
    assert got == want and len(got) == 10

    # replay: same batch id, same rows — segment rewritten, probe unmoved
    S.append_ivf_index(part_b, idx, batch_id=1)
    assert [
        tuple(r)
        for r in S.ivf_topk_indexed(
            spark, idx, qvec, k=10, nprobe=6, exclude_vec_id=0
        ).collect()
    ] == want

    with pytest.raises(ValueError, match="already exist"):
        S.append_ivf_index(part_b.limit(3), idx)
    with pytest.raises(ValueError, match="dims"):
        S.append_ivf_index(
            part_b.withColumn("embedding", F.slice("embedding", 1, 5)), idx,
        )
    with pytest.raises(ValueError, match="no index"):
        S.append_ivf_index(part_b, str(tmp_path / "missing_ivf"))

@pytest.mark.slow
def test_ivfpq_append_exhaustive_probe_equals_brute_force(spark, sf_dir, tmp_path):
    """r13 verdict #2: Faiss add-after-train for IVFADC.  write(A) +
    append(B) encodes B's residuals against the STORED codebooks and
    coarse centroids; an exhaustive probe (nprobe = n_clusters,
    shortlist ≥ corpus) over the appended index must equal brute-force
    cosine over the union (unit-normalized corpus: L2 rank == cosine
    rank).  Replaying a batch id moves nothing; overlaps, dim
    mismatches, and a missing index raise; compaction collapses the
    segments losslessly."""
    import os

    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        segstore,
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    embs = S.unit_normalize(load(spark, sf_dir, "embeddings")).localCheckpoint(
        eager=True
    )
    q = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    body = embs.filter(F.col("vec_id") != 0)
    part_a = body.filter(F.col("vec_id") % 5 < 3)
    part_b = body.filter(F.col("vec_id") % 5 >= 3)
    n_body = body.count()

    idx = str(tmp_path / "ivfpq_incremental")
    kw = dict(
        n_clusters=6, m=4, codes_k=8, coarse_iterations=2, pq_iterations=1, assign_n=2
    )
    S.write_ivfpq_index(part_a, idx, **kw)
    out = S.append_ivfpq_index(part_b, idx)
    assert out["batch_id"] == 1 and out["n_vectors"] > 0

    exhaustive = lambda: [
        r["vec_id"]
        for r in S.ivfpq_topk_indexed(
            spark, idx, body, q, k=10, nprobe=6, shortlist=n_body
        ).collect()
    ]
    want = [r["vec_id"] for r in S.brute_force_topk(embs, 0, k=10).collect()]
    got = exhaustive()
    assert got == want and len(got) == 10

    # replay: same batch id, same rows — segment rewritten, probe unmoved
    S.append_ivfpq_index(part_b, idx, batch_id=1)
    assert exhaustive() == want

    with pytest.raises(ValueError, match="already exist"):
        S.append_ivfpq_index(part_b.limit(3), idx)
    with pytest.raises(ValueError, match="dims"):
        S.append_ivfpq_index(
            part_b.withColumn("embedding", F.slice("embedding", 1, 5)), idx
        )
    with pytest.raises(ValueError, match="no index"):
        S.append_ivfpq_index(part_b, str(tmp_path / "missing_ivfpq"))
    # empty append writes nothing
    assert S.append_ivfpq_index(body.limit(0), idx)["n_vectors"] == 0

    segstore.compact("ivfpq", spark, idx)
    segs = sorted(
        d
        for d in os.listdir(os.path.join(idx, "codes"))
        if d.startswith("batch=")
    )
    assert segs == ["batch=0"]
    assert exhaustive() == want
    extra = part_b.limit(3).withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
    assert S.append_ivfpq_index(extra, idx)["batch_id"] == 1


def test_pq_append_matches_same_codebook_rebuild(spark, sf_dir, tmp_path):
    """r13 verdict #2, the plain-PQ member: appended vectors carry
    exactly the codes a same-codebook rebuild would give them
    (deterministic anchor books make this row-for-row checkable at
    SERVING shortlist, not just exhaustively), and an exhaustive
    shortlist equals brute-force L2 over the union.  Overlaps and
    missing indexes raise; compaction preserves probes."""
    import os

    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        segstore,
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    embs = load(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    q = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    body = embs.filter(F.col("vec_id") != 0)
    part_a = body.filter(F.col("vec_id") % 5 < 3)
    part_b = body.filter(F.col("vec_id") % 5 >= 3)

    books = S.anchor_pq_codebooks(embs, m=8, k=16)
    inc = str(tmp_path / "pq_incremental")
    S.write_pq_index(part_a, inc, codebooks=books)
    out = S.append_pq_index(part_b, inc)
    assert out["batch_id"] == 1 and out["n_vectors"] > 0

    full = str(tmp_path / "pq_full")
    S.write_pq_index(body, full, codebooks=books)

    for shortlist in (50, body.count()):
        got = [
            tuple(r)
            for r in S.pq_topk_indexed(
                spark, inc, body, q, k=10, shortlist=shortlist
            ).collect()
        ]
        want = [
            tuple(r)
            for r in S.pq_topk_indexed(
                spark, full, body, q, k=10, shortlist=shortlist
            ).collect()
        ]
        assert got == want and len(got) == 10, shortlist

    with pytest.raises(ValueError, match="already exist"):
        S.append_pq_index(part_b.limit(3), inc)
    with pytest.raises(ValueError, match="no index"):
        S.append_pq_index(part_b, str(tmp_path / "missing_pq"))
    assert S.append_pq_index(body.limit(0), inc)["n_vectors"] == 0

    before = [
        tuple(r)
        for r in S.pq_topk_indexed(spark, inc, body, q, k=10, shortlist=50).collect()
    ]
    segstore.compact("pq", spark, inc)
    after = [
        tuple(r)
        for r in S.pq_topk_indexed(spark, inc, body, q, k=10, shortlist=50).collect()
    ]
    assert after == before
    segs = sorted(
        d for d in os.listdir(os.path.join(inc, "codes")) if d.startswith("batch=")
    )
    assert segs == ["batch=0"]
    extra = part_b.limit(3).withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
    assert S.append_pq_index(extra, inc)["batch_id"] == 1


def test_ivf_id_map_sidecar_bounds_append_validation(spark, tmp_path):
    """r13 verdict #3: append_ivf_index's overlap check reads the thin
    ``_id_map`` sidecar, never the vector store — build and append each
    write their (id, cluster) slice, overlaps are still caught, a
    replayed batch id rewrites its own slice, and a pre-r14 layout
    without the sidecar falls back to the vector-store id scan."""
    import os
    import shutil

    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        segstore,
        similarity as S,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, float(i % 3), 0.5]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    part_a = vecs.filter(F.col("vec_id") < 16)
    part_b = vecs.filter(F.col("vec_id") >= 16)

    idx = str(tmp_path / "ivf_idmap")
    S.write_ivf_index(part_a, idx, n_clusters=3, iterations=1)
    assert os.path.isdir(os.path.join(idx, "_id_map", "batch=0"))
    S.append_ivf_index(part_b, idx)
    assert os.path.isdir(os.path.join(idx, "_id_map", "batch=1"))

    # sidecar contents mirror the vector store's membership exactly
    id_map = {
        (r["vec_id"], r["batch"])
        for r in spark.read.parquet(os.path.join(idx, "_id_map")).collect()
    }
    store = {
        (r["vec_id"], r["batch"])
        for r in spark.read.parquet(os.path.join(idx, "vectors"))
        .select("vec_id", "batch")
        .collect()
    }
    assert id_map == store and len(id_map) == 24

    # overlap still raises (now detected via the sidecar)
    with pytest.raises(ValueError, match="already exist"):
        S.append_ivf_index(part_b.limit(2), idx)

    # replaying batch 1 rewrites its own _id_map slice, no duplicates
    S.append_ivf_index(part_b, idx, batch_id=1)
    assert spark.read.parquet(os.path.join(idx, "_id_map")).count() == 24

    # compaction collapses the sidecar with the vectors
    segstore.compact("ivf", spark, idx)
    segs = sorted(
        d for d in os.listdir(os.path.join(idx, "_id_map")) if d.startswith("batch=")
    )
    assert segs == ["batch=0"]
    assert spark.read.parquet(os.path.join(idx, "_id_map")).count() == 24

    # pre-r14 layout (no sidecar): fallback still validates via the store
    shutil.rmtree(os.path.join(idx, "_id_map"))
    with pytest.raises(ValueError, match="already exist"):
        S.append_ivf_index(part_b.limit(2), idx)
    extra = part_b.limit(2).withColumn("vec_id", F.col("vec_id") + F.lit(1000))
    assert S.append_ivf_index(extra, idx)["n_vectors"] == 2


@pytest.mark.slow
def test_lsh_and_ivf_compaction_preserve_probes(spark, sf_dir, tmp_path):
    """LSH and IVF ``segstore.compact``: after build + append,
    compaction collapses to one batch=0 segment, probes are identical
    before/after, and further appends still work."""
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        segstore,
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    embs = load(spark, sf_dir, "embeddings")
    part_a = embs.filter(F.col("vec_id") % 5 < 3)
    part_b = embs.filter(F.col("vec_id") % 5 >= 3)
    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]

    lsh = str(tmp_path / "lsh_c")
    S.write_lsh_index(part_a, lsh, planes=4, dims=64)
    S.append_lsh_index(part_b, lsh)
    before = [
        tuple(r)
        for r in S.lsh_topk_indexed(spark, lsh, query_vec=qvec, k=10, nprobe=4).collect()
    ]
    segstore.compact("lsh", spark, lsh)
    after = [
        tuple(r)
        for r in S.lsh_topk_indexed(spark, lsh, query_vec=qvec, k=10, nprobe=4).collect()
    ]
    assert after == before
    assert sorted(d for d in os.listdir(lsh) if d.startswith("batch=")) == ["batch=0"]
    extra = part_b.limit(3).withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
    assert S.append_lsh_index(extra, lsh)["batch_id"] == 1

    ivf = str(tmp_path / "ivf_c")
    S.write_ivf_index(part_a, ivf, n_clusters=6, iterations=2)
    S.append_ivf_index(part_b, ivf)
    before = [
        tuple(r)
        for r in S.ivf_topk_indexed(
            spark, ivf, qvec, k=10, nprobe=6, exclude_vec_id=0
        ).collect()
    ]
    segstore.compact("ivf", spark, ivf)
    after = [
        tuple(r)
        for r in S.ivf_topk_indexed(
            spark, ivf, qvec, k=10, nprobe=6, exclude_vec_id=0
        ).collect()
    ]
    assert after == before
    vdirs = sorted(
        d for d in os.listdir(os.path.join(ivf, "vectors")) if d.startswith("batch=")
    )
    assert vdirs == ["batch=0"]
    assert S.append_ivf_index(extra, ivf)["batch_id"] == 1

def test_bm25_delete_probe_equals_rebuild_over_survivors(spark, sf_dir, tmp_path):
    """r14: the index family's DELETE verb.  Deleting docs rewrites
    only the touched segments with their stats recomputed exactly, so
    a probe after deletion is BIT-EQUAL to a fresh rebuild over the
    surviving corpus — no stale-stats tombstone window.  A segment
    emptied entirely is removed whole; unknown/empty id lists are
    no-ops; update = delete + append round-trips; re-running a delete
    is idempotent."""
    import os

    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.retrieval import (
        append_bm25_index,
        bm25_topk_indexed,
        delete_from_bm25_index,
        write_bm25_index,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    terms = ["spark", "stream", "hash", "dup"]
    docs = load(spark, sf_dir, "documents")
    part_a = docs.filter(F.col("doc_id") % 10 < 7)
    part_b = docs.filter(F.col("doc_id") % 10 >= 7)

    idx = str(tmp_path / "bm25_del")
    write_bm25_index(part_a, idx, n_buckets=16)
    append_bm25_index(part_b, idx)

    # delete a slice spanning BOTH segments
    victims = [r["doc_id"] for r in docs.filter(F.col("doc_id") % 7 == 0).collect()]
    out = delete_from_bm25_index(spark, idx, victims)
    assert out["segments_rewritten"] == 2 and out["docs_deleted"] > 0

    survivors_df = docs.filter(~F.col("doc_id").isin(victims))
    rebuild = str(tmp_path / "bm25_survivors")
    write_bm25_index(survivors_df, rebuild, n_buckets=16)
    want = [tuple(r) for r in bm25_topk_indexed(spark, rebuild, terms, k=10).collect()]
    got = [tuple(r) for r in bm25_topk_indexed(spark, idx, terms, k=10).collect()]
    assert got == want and len(got) == 10
    assert not {g[0] for g in got} & set(victims)

    # idempotent: re-running the same delete changes nothing
    out2 = delete_from_bm25_index(spark, idx, victims)
    assert out2["docs_deleted"] == 0
    assert [
        tuple(r) for r in bm25_topk_indexed(spark, idx, terms, k=10).collect()
    ] == want

    # update = delete + append: re-add the victims with new text and
    # match a rebuild over the updated corpus exactly
    updated = docs.filter(F.col("doc_id").isin(victims)).withColumn(
        "text", F.concat(F.col("text"), F.lit(" spark spark"))
    )
    append_bm25_index(updated, idx)
    full_updated = str(tmp_path / "bm25_updated")
    write_bm25_index(
        survivors_df.unionByName(updated), full_updated, n_buckets=16
    )
    assert [
        tuple(r) for r in bm25_topk_indexed(spark, idx, terms, k=10).collect()
    ] == [
        tuple(r) for r in bm25_topk_indexed(spark, full_updated, terms, k=10).collect()
    ]

    # whole-segment removal: delete every doc of segment batch=2 (the
    # update segment) — its four dirs disappear
    out3 = delete_from_bm25_index(spark, idx, victims)
    assert out3["segments_removed"] == 1 and out3["segments_rewritten"] == 0
    assert not os.path.isdir(os.path.join(idx, "batch=2"))
    assert not os.path.isdir(os.path.join(idx, "_bm25_params", "batch=2"))
    assert [
        tuple(r) for r in bm25_topk_indexed(spark, idx, terms, k=10).collect()
    ] == want

    # no-ops and errors
    assert delete_from_bm25_index(spark, idx, []) == {
        "segments_rewritten": 0, "segments_removed": 0, "docs_deleted": 0,
    }
    assert delete_from_bm25_index(spark, idx, [999_999_999])["docs_deleted"] == 0
    with pytest.raises(ValueError, match="no index"):
        delete_from_bm25_index(spark, str(tmp_path / "nope"), [1])


@pytest.mark.slow
def test_vector_index_deletes_match_rebuilds_over_survivors(spark, sf_dir, tmp_path):
    """r14: the DELETE verb across the four vector layouts.  LSH:
    probe == rebuild over survivors (content-deterministic, exact).
    IVF: exhaustive probe == brute force over survivors, _id_map kept
    consistent.  PQ: probe == same-codebook rebuild over survivors.
    IVFPQ: exhaustive probe == brute force over survivors.  Each
    O(touched segments); trained sidecars untouched."""
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    embs = load(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    victims = [
        r["vec_id"]
        for r in embs.filter(
            (F.col("vec_id") % 7 == 1) & (F.col("vec_id") != 0)
        ).collect()
    ]
    survivors = embs.filter(~F.col("vec_id").isin(victims)).localCheckpoint(eager=True)

    # LSH
    lsh = str(tmp_path / "lsh_del")
    S.write_lsh_index(embs, lsh, planes=4, dims=64)
    out = S.delete_from_lsh_index(spark, lsh, victims)
    assert out["vectors_deleted"] == len(victims)
    rebuild = str(tmp_path / "lsh_sur")
    S.write_lsh_index(survivors, rebuild, planes=4, dims=64)
    for kwargs in ({"query_vec_id": 0}, {"query_vec": qvec, "nprobe": 4}):
        got = [tuple(r) for r in S.lsh_topk_indexed(spark, lsh, k=10, **kwargs).collect()]
        want = [
            tuple(r) for r in S.lsh_topk_indexed(spark, rebuild, k=10, **kwargs).collect()
        ]
        assert got == want and len(got) == 10, kwargs
    # _id_map stays consistent with the store
    assert (
        spark.read.parquet(os.path.join(lsh, "_id_map")).count()
        == survivors.count()
    )

    # IVF (trained on everything; deletion never retrains)
    ivf = str(tmp_path / "ivf_del")
    S.write_ivf_index(embs, ivf, n_clusters=6, iterations=2)
    S.delete_from_ivf_index(spark, ivf, victims)
    got = [
        tuple(r)
        for r in S.ivf_topk_indexed(
            spark, ivf, qvec, k=10, nprobe=6, exclude_vec_id=0
        ).collect()
    ]
    want = [tuple(r) for r in S.brute_force_topk(survivors, 0, k=10).collect()]
    assert got == want and len(got) == 10

    # PQ (anchor codebooks → deterministic same-codebook rebuild)
    books = S.anchor_pq_codebooks(embs, m=8, k=16)
    pq = str(tmp_path / "pq_del")
    S.write_pq_index(embs, pq, codebooks=books)
    S.delete_from_pq_index(spark, pq, victims)
    body = survivors.filter(F.col("vec_id") != 0)
    pq_rebuild = str(tmp_path / "pq_sur")
    S.write_pq_index(survivors, pq_rebuild, codebooks=books)
    got = [
        tuple(r)
        for r in S.pq_topk_indexed(spark, pq, body, qvec, k=10, shortlist=50).collect()
    ]
    want = [
        tuple(r)
        for r in S.pq_topk_indexed(
            spark, pq_rebuild, body, qvec, k=10, shortlist=50
        ).collect()
    ]
    assert got == want and len(got) == 10

    # IVFPQ (unit-normalized corpus; exhaustive probe == brute force)
    normed = S.unit_normalize(embs).localCheckpoint(eager=True)
    nbody_all = normed.filter(F.col("vec_id") != 0)
    ivfpq = str(tmp_path / "ivfpq_del")
    S.write_ivfpq_index(
        nbody_all, ivfpq, n_clusters=6, m=4, codes_k=8,
        coarse_iterations=2, pq_iterations=1, assign_n=2,
    )
    S.delete_from_ivfpq_index(spark, ivfpq, victims)
    nbody_sur = normed.filter(
        (F.col("vec_id") != 0) & ~F.col("vec_id").isin(victims)
    ).localCheckpoint(eager=True)
    got = [
        r["vec_id"]
        for r in S.ivfpq_topk_indexed(
            spark, ivfpq, nbody_sur, [float(x) for x in normed.filter(
                F.col("vec_id") == 0).head()["embedding"]],
            k=10, nprobe=6, shortlist=nbody_sur.count(),
        ).collect()
    ]
    want = [r["vec_id"] for r in S.brute_force_topk(survivors, 0, k=10).collect()]
    assert got == want and len(got) == 10


def test_delete_heals_crashed_segment_swap_debris(spark, tmp_path):
    """r14 self-review catch: per-segment swaps (the delete verb) are
    the first swap jobs operating INSIDE a partition-discovered tree,
    so crash debris (batch=<id>.erase_{old,staging} sibling dirs) sits
    where partition discovery walks and would poison every later read.
    Re-running the delete must first heal: restore a live segment
    stranded in its .erase_old backup, drop garbage staging dirs, and
    then complete normally — the re-run-to-heal discipline made real
    for both crash positions."""
    import os
    import shutil

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        retrieval as R,
        similarity as S,
    )

    # BM25: strand segment batch=0 mid-swap (live renamed to .erase_old)
    docs = spark.createDataFrame(
        [(i, f"spark stream doc{i % 3} hash") for i in range(12)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "bm25_debris")
    R.write_bm25_index(docs.filter(F.col("doc_id") < 6), idx, n_buckets=4)
    R.append_bm25_index(docs.filter(F.col("doc_id") >= 6), idx)
    os.rename(os.path.join(idx, "batch=0"), os.path.join(idx, "batch=0.erase_old"))
    os.makedirs(os.path.join(idx, "batch=1.erase_staging"))
    out = R.delete_from_bm25_index(spark, idx, [3])
    assert out["docs_deleted"] == 1
    left = sorted(d for d in os.listdir(idx) if d.startswith("batch="))
    assert left == ["batch=0", "batch=1"]  # restored + garbage cleared
    got = [tuple(r) for r in R.bm25_topk_indexed(spark, idx, ["spark"], k=12).collect()]
    assert len(got) == 11 and 3 not in {g[0] for g in got}

    # LSH: same two crash states on the vector store + its id map
    vecs = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, float(i % 3), 0.5]) for i in range(16)],
        "vec_id long, embedding array<double>",
    )
    lsh = str(tmp_path / "lsh_debris")
    S.write_lsh_index(vecs.filter(F.col("vec_id") < 8), lsh, planes=2, dims=4)
    S.append_lsh_index(vecs.filter(F.col("vec_id") >= 8), lsh)
    os.rename(os.path.join(lsh, "batch=1"), os.path.join(lsh, "batch=1.erase_old"))
    os.makedirs(os.path.join(lsh, "_id_map", "batch=0.erase_staging"))
    out = S.delete_from_lsh_index(spark, lsh, [5])
    assert out["vectors_deleted"] == 1
    assert sorted(d for d in os.listdir(lsh) if d.startswith("batch=")) == [
        "batch=0", "batch=1",
    ]
    assert not os.path.isdir(os.path.join(lsh, "_id_map", "batch=0.erase_staging"))
    rebuild = str(tmp_path / "lsh_debris_rebuild")
    S.write_lsh_index(vecs.filter(F.col("vec_id") != 5), rebuild, planes=2, dims=4)
    q = [1.0, 1.0, 0.0, 0.5]
    assert [
        tuple(r)
        for r in S.lsh_topk_indexed(spark, lsh, query_vec=q, k=5, nprobe=4).collect()
    ] == [
        tuple(r)
        for r in S.lsh_topk_indexed(spark, rebuild, query_vec=q, k=5, nprobe=4).collect()
    ]
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_index_lifecycle_build_append_delete_compact_equals_rebuild(
    spark, sf_dir, tmp_path
):
    """r14 lifecycle composition: the five maintenance verbs compose.
    For BM25 and IVF — build(A) → append(B) → append(C) → delete(D) →
    maintain_index(auto-compact) → probe must equal a fresh rebuild
    over the FINAL corpus state (A∪B∪C − D): bit-equal for BM25
    (stats recomputed exactly at every step), exhaustive-probe ==
    brute-force for IVF (centroids are trained state and the final
    comparison is exact rerank).  This is the living-index serving
    story end to end, not per-verb."""
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        retrieval as R,
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.maintenance import (
        maintain_index,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    embs = load(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    part = lambda df, c, i: df.filter(F.col(c) % 3 == i)
    victims_docs = [
        r["doc_id"] for r in docs.filter(F.col("doc_id") % 11 == 3).collect()
    ]
    victims_vecs = [
        r["vec_id"]
        for r in embs.filter(
            (F.col("vec_id") % 11 == 3) & (F.col("vec_id") != 0)
        ).collect()
    ]

    # --- BM25 lifecycle
    terms = ["spark", "stream", "hash", "dup"]
    idx = str(tmp_path / "bm25_life")
    R.write_bm25_index(part(docs, "doc_id", 0), idx, n_buckets=16)
    R.append_bm25_index(part(docs, "doc_id", 1), idx)
    R.append_bm25_index(part(docs, "doc_id", 2), idx)
    R.delete_from_bm25_index(spark, idx, victims_docs)
    out = maintain_index(spark, idx, max_segments=1)
    assert out["compacted"] and out["segments_after"] == 1
    final_docs = docs.filter(~F.col("doc_id").isin(victims_docs))
    rebuild = str(tmp_path / "bm25_life_rebuild")
    R.write_bm25_index(final_docs, rebuild, n_buckets=16)
    got = [tuple(r) for r in R.bm25_topk_indexed(spark, idx, terms, k=10).collect()]
    want = [tuple(r) for r in R.bm25_topk_indexed(spark, rebuild, terms, k=10).collect()]
    assert got == want and len(got) == 10

    # --- IVF lifecycle (trained once on part 0; never retrained)
    ivf = str(tmp_path / "ivf_life")
    S.write_ivf_index(part(embs, "vec_id", 0), ivf, n_clusters=6, iterations=2)
    S.append_ivf_index(part(embs, "vec_id", 1), ivf)
    S.append_ivf_index(part(embs, "vec_id", 2), ivf)
    S.delete_from_ivf_index(spark, ivf, victims_vecs)
    out = maintain_index(spark, ivf, max_segments=1)
    assert out["compacted"] and out["segments_after"] == 1
    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    final_vecs = embs.filter(~F.col("vec_id").isin(victims_vecs))
    got = [
        tuple(r)
        for r in S.ivf_topk_indexed(
            spark, ivf, qvec, k=10, nprobe=6, exclude_vec_id=0
        ).collect()
    ]
    want = [tuple(r) for r in S.brute_force_topk(final_vecs, 0, k=10).collect()]
    assert got == want and len(got) == 10
    # the _id_map sidecar survived the whole lifecycle consistently
    assert (
        spark.read.parquet(os.path.join(ivf, "_id_map")).count()
        == final_vecs.count()
    )


@pytest.mark.slow
def test_extend_dup_clusters_equals_full_recompute(spark, sf_dir):
    """r13 verdict #8: incremental dup-cluster maintenance.  Extending
    a dup_clusters labeling with an increment's pairs must equal a
    full recompute over old ∪ new pairs — exercised twice: (a) a
    synthetic case covering cross-cluster merges through a new vertex,
    canonical flips, and a disjoint all-new cluster; (b) a real-data
    differential on the documents table's n-gram Jaccard pairs split
    80/20 by doc id."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        dedup,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.components import (
        dup_clusters,
        extend_dup_clusters,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    def rows(df):
        return sorted(
            (r["doc_id"], r["cluster_id"], r["is_canonical"]) for r in df.collect()
        )

    # (a) synthetic: clusters {2,3} and {10,11}; increment adds vertex 1
    # bridging both (merged label 1 — canonical flips off 2), plus a
    # disjoint brand-new cluster {20,21}
    old_pairs = spark.createDataFrame([(2, 3), (10, 11)], ["doc_a", "doc_b"])
    new_pairs = spark.createDataFrame(
        [(1, 2), (3, 10), (20, 21)], ["doc_a", "doc_b"]
    )
    existing = dup_clusters(old_pairs)
    got = extend_dup_clusters(new_pairs, existing)
    want = dup_clusters(old_pairs.unionByName(new_pairs))
    assert rows(got) == rows(want)
    by_id = {d: (c, k) for d, c, k in rows(got)}
    assert by_id[2] == (1, False) and by_id[1] == (1, True)
    assert by_id[20] == (20, True) and by_id[21] == (20, False)

    # empty increment: labeling unchanged
    empty = new_pairs.limit(0)
    assert rows(extend_dup_clusters(empty, existing)) == rows(existing)

    # composability: extending twice == extending with the union
    two_step = extend_dup_clusters(
        spark.createDataFrame([(3, 10)], ["doc_a", "doc_b"]),
        extend_dup_clusters(
            spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"]), existing
        ),
    )
    assert rows(two_step) == rows(
        dup_clusters(
            old_pairs.unionByName(
                spark.createDataFrame([(1, 2), (3, 10)], ["doc_a", "doc_b"])
            )
        )
    )

    # (b) real-data differential on the documents table
    docs = load(spark, sf_dir, "documents")
    all_pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.2).localCheckpoint(
        eager=True
    )
    is_old = lambda c: F.col(c) % 10 < 8
    old = all_pairs.filter(is_old("doc_a") & is_old("doc_b"))
    inc = all_pairs.filter(~(is_old("doc_a") & is_old("doc_b")))
    got = extend_dup_clusters(inc, dup_clusters(old))
    want = dup_clusters(all_pairs)
    assert rows(got) == rows(want) and want.count() > 0


def test_maintain_index_applies_compaction_policy(spark, tmp_path):
    """r13 verdict #4: maintain_index enforces the SCALING.md operating
    rule (compact when segment count exceeds max_segments) across all
    five appendable layouts, auto-detecting the layout from its params
    sidecar.  Drive append×5 on bm25/lsh/ivf (the IVF block through
    the r19 multi-batch verb — the policy must compose with it),
    auto-compact at max_segments=4, and pin probe equality across the
    compaction; the below-threshold call is a no-op; an unrecognized
    path raises.  (r19: append count trimmed 8→5 — the policy
    contract is "compact iff count > max_segments", fully exercised
    at 6 segments; the extra appends only paid wall-clock.)"""
    import os

    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        retrieval as R,
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.maintenance import (
        maintain_index,
    )

    docs = spark.createDataFrame(
        [(i, f"spark stream doc{i % 3} hash") for i in range(12)],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, float(i % 3), 0.5]) for i in range(16)],
        "vec_id long, embedding array<double>",
    )

    bm25 = str(tmp_path / "bm25_m")
    R.write_bm25_index(docs, bm25, n_buckets=4)
    for j in range(5):
        R.append_bm25_index(
            docs.limit(2).withColumn("doc_id", F.col("doc_id") + F.lit(100 * (j + 1))),
            bm25,
        )
    before = [tuple(r) for r in R.bm25_topk_indexed(spark, bm25, ["spark"], k=5).collect()]
    out = maintain_index(spark, bm25, max_segments=4)
    assert out == {
        "kind": "bm25", "segments_before": 6, "segments_after": 1, "compacted": True,
    }
    assert [
        tuple(r) for r in R.bm25_topk_indexed(spark, bm25, ["spark"], k=5).collect()
    ] == before
    # below threshold: no-op
    assert maintain_index(spark, bm25, max_segments=4)["compacted"] is False

    lsh = str(tmp_path / "lsh_m")
    S.write_lsh_index(vecs, lsh, planes=2, dims=4)
    for j in range(5):
        S.append_lsh_index(
            vecs.limit(2).withColumn("vec_id", F.col("vec_id") + F.lit(100 * (j + 1))),
            lsh,
        )
    q = [1.0, 1.0, 0.0, 0.5]
    before = [
        tuple(r)
        for r in S.lsh_topk_indexed(spark, lsh, query_vec=q, k=5, nprobe=4).collect()
    ]
    out = maintain_index(spark, lsh, max_segments=4)
    assert out["kind"] == "lsh" and out["compacted"] and out["segments_after"] == 1
    assert [
        tuple(r)
        for r in S.lsh_topk_indexed(spark, lsh, query_vec=q, k=5, nprobe=4).collect()
    ] == before

    ivf = str(tmp_path / "ivf_m")
    S.write_ivf_index(vecs, ivf, n_clusters=2, iterations=1)
    # the r19 multi-batch verb — the policy must compose with it
    S.append_ivf_index_many(
        [
            vecs.limit(2).withColumn(
                "vec_id", F.col("vec_id") + F.lit(100 * (j + 1))
            )
            for j in range(5)
        ],
        ivf,
    )
    before = [
        tuple(r) for r in S.ivf_topk_indexed(spark, ivf, q, k=5, nprobe=2).collect()
    ]
    out = maintain_index(spark, ivf, max_segments=4)
    assert out["kind"] == "ivf" and out["compacted"] and out["segments_after"] == 1
    assert [
        tuple(r) for r in S.ivf_topk_indexed(spark, ivf, q, k=5, nprobe=2).collect()
    ] == before

    # the PQ/IVFPQ members detect + compact through the same helper
    pq = str(tmp_path / "pq_m")
    books = S.anchor_pq_codebooks(vecs, m=2, k=4)
    S.write_pq_index(vecs, pq, codebooks=books)
    S.append_pq_index(
        vecs.limit(2).withColumn("vec_id", F.col("vec_id") + F.lit(100)), pq
    )
    out = maintain_index(spark, pq, max_segments=1)
    assert out["kind"] == "pq" and out["compacted"] and out["segments_after"] == 1

    ivfpq = str(tmp_path / "ivfpq_m")
    S.write_ivfpq_index(
        vecs, ivfpq, n_clusters=2, m=2, codes_k=4,
        coarse_iterations=1, pq_iterations=1,
    )
    S.append_ivfpq_index(
        vecs.limit(2).withColumn("vec_id", F.col("vec_id") + F.lit(100)), ivfpq
    )
    out = maintain_index(spark, ivfpq, max_segments=1)
    assert out["kind"] == "ivfpq" and out["compacted"] and out["segments_after"] == 1

    with pytest.raises(ValueError, match="no recognized"):
        maintain_index(spark, str(tmp_path / "not_an_index"))
    with pytest.raises(ValueError, match="max_segments"):
        maintain_index(spark, bm25, max_segments=0)


def test_index_appends_never_write_dataless_segments(spark, tmp_path):
    """r13 empty-segment rule: an append whose effective input is empty
    (all-empty texts for BM25; zero rows for LSH/IVF) must write
    NOTHING — a data-less batch=<id> dir breaks parquet schema
    inference for every later probe (this test's first scenario
    crashed with UNABLE_TO_INFER_SCHEMA before the guard)."""
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        retrieval as R,
        similarity as S,
    )

    docs = spark.createDataFrame([(1, "x y"), (2, "y z")], ["doc_id", "text"])
    idx = str(tmp_path / "bm25_empty")
    R.write_bm25_index(docs, idx, n_buckets=4)
    out = R.append_bm25_index(
        spark.createDataFrame([(9, ""), (10, "   ")], ["doc_id", "text"]), idx
    )
    assert out == {"batch_id": 1, "n_docs": 0}
    assert sorted(d for d in os.listdir(idx) if d.startswith("batch=")) == ["batch=0"]
    got = [tuple(r) for r in R.bm25_topk_indexed(spark, idx, ["y"], k=10).collect()]
    assert [g[0] for g in got] == [1, 2]  # both docs match 'y', unharmed

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.5]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    empty = vecs.limit(0)
    lsh = str(tmp_path / "lsh_empty")
    S.write_lsh_index(vecs, lsh, planes=2, dims=4)
    assert S.append_lsh_index(empty, lsh)["n_vectors"] == 0
    assert sorted(d for d in os.listdir(lsh) if d.startswith("batch=")) == ["batch=0"]
    assert (
        len(S.lsh_topk_indexed(spark, lsh, query_vec=[1.0, 1.0, 0.0, 0.5],
                               k=3, nprobe=4).collect()) == 3
    )

    ivf = str(tmp_path / "ivf_empty")
    S.write_ivf_index(vecs, ivf, n_clusters=2, iterations=1)
    assert S.append_ivf_index(empty, ivf)["n_vectors"] == 0
    assert sorted(
        d for d in os.listdir(os.path.join(ivf, "vectors")) if d.startswith("batch=")
    ) == ["batch=0"]
    assert (
        len(S.ivf_topk_indexed(spark, ivf, [1.0, 1.0, 0.0, 0.5],
                               k=3, nprobe=2).collect()) == 3
    )

def test_group_stats_exclude_null_pairs(spark):
    """r13 self-review fix: rows where either x or y is NULL must be
    excluded from ALL sufficient statistics (SQL regr_* semantics) —
    the old count(lit(1)) counted them in n while the sums skipped
    them, silently skewing every fit.  Also pins the all-NULL group
    (NULL outputs, no ANSI division error) and zero-variance NULLs."""
    from decimal import Decimal

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.stats import (
        group_corr,
        group_ols,
    )

    rows = [
        # group a: clean y = 2x + 1 on (1,3),(2,5),(3,7) + one NULL-x
        # and one NULL-y row that must not move the fit
        ("a", 1, Decimal("3.00")), ("a", 2, Decimal("5.00")),
        ("a", 3, Decimal("7.00")), ("a", None, Decimal("99.00")),
        ("a", 9, None),
        ("b", None, Decimal("1.00")),        # all pairs invalid
        ("c", 4, Decimal("8.00")), ("c", 4, Decimal("9.00")),  # zero variance
    ]
    df = spark.createDataFrame(rows, "g string, x int, y decimal(10,2)")
    ols = {r["g"]: r for r in group_ols(df, ["g"], "x", "y").collect()}
    assert ols["a"]["n_points"] == 3
    assert ols["a"]["slope"] == 2.0 and ols["a"]["intercept"] == 1.0
    assert ols["b"]["n_points"] == 0
    assert ols["b"]["slope"] is None and ols["b"]["intercept"] is None
    assert ols["c"]["slope"] is None  # zero variance

    corr_rows = [
        ("a", 1, 3), ("a", 2, 5), ("a", 3, 7),
        ("a", None, 99), ("a", 9, None),
        ("b", None, 1),
    ]
    cdf = spark.createDataFrame(corr_rows, "g string, x int, y int")
    corr = {r["g"]: r for r in group_corr(cdf, ["g"], "x", "y").collect()}
    assert corr["a"]["n_points"] == 3 and corr["a"]["corr"] == 1.0
    assert corr["b"]["n_points"] == 0 and corr["b"]["corr"] is None

def test_interval_point_join_drops_inverted_intervals(spark):
    """r13 self-review: an inverted interval (end < start) matches
    nothing, but sequence(lo, hi) DESCENDS when hi < lo — one bad row
    spanning years would explode into thousands of waste bins.  The
    operator drops inverted rows before binning (semantics-neutral:
    the residual predicate is unsatisfiable for them anyway)."""
    import datetime as dt

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.rangejoin import (
        interval_point_join,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    points = spark.createDataFrame(
        [(1, t0), (2, t0 + dt.timedelta(minutes=7))], "pid long, ts timestamp"
    )
    intervals = spark.createDataFrame(
        [
            ("ok", t0 - dt.timedelta(minutes=1), t0 + dt.timedelta(minutes=5)),
            # inverted by THREE YEARS: would explode to ~315k bins
            ("bad", t0, t0 - dt.timedelta(days=1095)),
        ],
        "name string, start timestamp, end timestamp",
    )
    got = interval_point_join(points, intervals, "ts", "start", "end").collect()
    assert [(r["pid"], r["name"]) for r in got] == [(1, "ok")]
    semi = interval_point_join(points, intervals, "ts", "start", "end", how="left_semi")
    assert [r["pid"] for r in semi.collect()] == [1]


@pytest.mark.slow
@pytest.mark.parametrize("kind", ["bm25", "lsh", "ivf", "pq", "ivfpq"])
def test_bm25_delete_any_crash_point_heals_on_rerun(spark, tmp_path, monkeypatch, kind):
    """Every delete_from_*_index rewrites the touched store segment
    first, its stat slices next and its membership slice strictly LAST
    — membership is where the delete finds touched segments, so every
    earlier crash point leaves the deleted ids listed and a RE-RUN
    re-finds the segment and re-heals it.  For each layout, fault-inject
    a crash after each of the delete's swaps in turn (the last one
    included), re-run, and require the probe to equal a fresh rebuild
    over the survivors every time."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark import fsutil
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        retrieval as R,
        similarity as S,
    )

    victims = [3, 9]
    if kind == "bm25":
        rows = spark.createDataFrame(
            [(i, f"spark stream doc{i % 4} hash tok{i % 7}") for i in range(24)],
            "doc_id long, text string",
        )
        survivors = rows.filter(~F.col("doc_id").isin(victims))
        build = lambda df, p: R.write_bm25_index(df, p, n_buckets=4)
        probe = lambda p: R.bm25_topk_indexed(spark, p, ["spark", "doc1", "tok2"], k=24)
    else:
        rows = spark.createDataFrame(
            [(i, [float((i * 7) % 11), float(i % 5), 1.0, float(i % 4)]) for i in range(24)],
            "vec_id long, embedding array<double>",
        )
        if kind == "ivfpq":
            rows = S.unit_normalize(rows)
        rows = rows.localCheckpoint(eager=True)
        survivors = rows.filter(~F.col("vec_id").isin(victims))
        q = [3.0, 1.0, 0.5, 2.0]
        books = S.anchor_pq_codebooks(rows, m=2, k=4)
        # exhaustive probes: exact over the survivors, so a retrained
        # rebuild (IVF, IVFPQ) must rank identically
        build, probe = {
            "lsh": (
                lambda df, p: S.write_lsh_index(df, p, planes=2, dims=4),
                lambda p: S.lsh_topk_indexed(spark, p, query_vec=q, k=24, nprobe=4),
            ),
            "ivf": (
                lambda df, p: S.write_ivf_index(df, p, n_clusters=3, iterations=1),
                lambda p: S.ivf_topk_indexed(spark, p, q, k=24, nprobe=3),
            ),
            "pq": (
                lambda df, p: S.write_pq_index(df, p, codebooks=books),
                lambda p: S.pq_topk_indexed(spark, p, survivors, q, k=10, shortlist=24),
            ),
            "ivfpq": (
                lambda df, p: S.write_ivfpq_index(
                    df, p, n_clusters=2, m=2, codes_k=4, coarse_iterations=1,
                    pq_iterations=1, assign_n=2,
                ),
                lambda p: S.ivfpq_topk_indexed(
                    spark, p, survivors, q, k=10, nprobe=2, shortlist=48
                ),
            ),
        }[kind]
    delete = getattr(R if kind == "bm25" else S, f"delete_from_{kind}_index")
    rebuilt = str(tmp_path / f"{kind}_rebuild")
    build(survivors, rebuilt)
    want = [tuple(r) for r in probe(rebuilt).collect()]
    assert len(want) >= 10

    # store, then stat slices, then membership: one swap each
    swaps = {"bm25": 4, "lsh": 2, "ivf": 2, "pq": 1, "ivfpq": 1}[kind]
    real_swap = fsutil.swap_with_staging
    for crash_after in range(1, swaps + 1):
        idx = str(tmp_path / f"{kind}_crash{crash_after}")
        build(rows, idx)
        calls = {"n": 0}

        def crashing(spark_, path, write_fn, job="compact", _ca=crash_after):
            real_swap(spark_, path, write_fn, job=job)
            calls["n"] += 1
            if calls["n"] == _ca:
                raise RuntimeError("injected crash")

        monkeypatch.setattr(fsutil, "swap_with_staging", crashing)
        with pytest.raises(RuntimeError, match="injected crash"):
            delete(spark, idx, victims)
        monkeypatch.setattr(fsutil, "swap_with_staging", real_swap)
        # before the membership swap the deleted ids are still listed,
        # so the re-run re-discovers the touched segment and completes
        out = delete(spark, idx, victims)
        assert out["segments_rewritten"] == (1 if crash_after < swaps else 0)
        got = [tuple(r) for r in probe(idx).collect()]
        assert got == want, f"{kind}: crash after swap {crash_after} did not heal"


def test_ivf_append_crash_before_vectors_write_retries_clean(spark, tmp_path):
    """r15 advisory (medium): append_ivf_index writes the ``_id_map``
    slice BEFORE the vectors segment.  A crash between the two leaves
    an orphaned _id_map slice; since batch ids are listed from the
    VECTORS root, a retry replays the SAME batch id and
    mode("overwrite") replaces both directories — no duplicate ids can
    enter the store (the reverse order let a retry pass the overlap
    check and insert every appended id twice)."""
    import os
    import shutil

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0, float(i) / 7.0]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    part_a = vecs.filter(F.col("vec_id") < 18)
    part_b = vecs.filter(F.col("vec_id") >= 18)
    idx = str(tmp_path / "ivf_crash")
    S.write_ivf_index(part_a, idx, n_clusters=3, iterations=2)
    out = S.append_ivf_index(part_b, idx)
    assert out["batch_id"] == 1
    # simulate the crash window: _id_map slice landed, vectors did not
    shutil.rmtree(os.path.join(idx, "vectors", "batch=1"))
    # the retry must NOT see the orphaned slice as a conflict: vectors
    # listing still says max batch is 0, so the default id replays 1
    out = S.append_ivf_index(part_b, idx)
    assert out["batch_id"] == 1 and out["n_vectors"] == 12
    q = [1.0, 2.0, 1.0, 0.5]
    got = [
        r["vec_id"]
        for r in S.ivf_topk_indexed(spark, idx, q, k=8, nprobe=3).collect()
    ]
    want = [r["vec_id"] for r in S.brute_force_topk(
        vecs.union(spark.createDataFrame([(10**9, q)], vecs.schema)),
        query_vec_id=10**9, k=8,
    ).collect()]
    assert got == want
    # the id map carries each id exactly once (no duplicate slices)
    im = spark.read.parquet(os.path.join(idx, "_id_map"))
    assert im.count() == im.select("vec_id").distinct().count() == 30


def test_pq_and_ivfpq_rebuild_failure_preserves_old_index(spark, tmp_path):
    """r15 advisory (low): rebuilding write_pq_index / write_ivfpq_index
    over an existing root goes through the staged swap — a failure
    during the long training/build leaves the OLD index live and
    probe-able (the pre-r15 delete-then-train order left nothing)."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )

    vecs = spark.createDataFrame(
        [(i, [float((i * 7) % 11), float(i % 4), 0.5, float(i % 6)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    q = [3.0, 1.0, 0.5, 2.0]
    # poison pill: evaluating the id column raises at ACTION time, so
    # the failure lands inside the build writes, not at plan time
    bad = vecs.withColumn(
        "vec_id",
        F.when(F.raise_error(F.lit("boom")).isNull(), F.col("vec_id")),
    )

    pq = str(tmp_path / "pq_staged")
    books = S.anchor_pq_codebooks(vecs, m=2, k=8)
    S.write_pq_index(vecs, pq, codebooks=books)
    before = [tuple(r) for r in S.pq_topk_indexed(spark, pq, vecs, q, k=5).collect()]
    with pytest.raises(Exception, match="boom"):
        S.write_pq_index(bad, pq, codebooks=books)
    assert [
        tuple(r) for r in S.pq_topk_indexed(spark, pq, vecs, q, k=5).collect()
    ] == before

    ivfpq = str(tmp_path / "ivfpq_staged")
    normed = S.unit_normalize(vecs)
    kw = dict(n_clusters=3, m=2, codes_k=8, coarse_iterations=1, pq_iterations=1)
    S.write_ivfpq_index(normed, ivfpq, **kw)
    before = [
        tuple(r)
        for r in S.ivfpq_topk_indexed(
            spark, ivfpq, normed, q, k=5, nprobe=3, shortlist=40
        ).collect()
    ]
    with pytest.raises(Exception, match="boom"):
        S.write_ivfpq_index(S.unit_normalize(bad), ivfpq, **kw)
    assert [
        tuple(r)
        for r in S.ivfpq_topk_indexed(
            spark, ivfpq, normed, q, k=5, nprobe=3, shortlist=40
        ).collect()
    ] == before


def test_bm25_empty_query_reads_only_doclens_sidecar(spark, tmp_path):
    """r15 advisory (low): the empty-query path infers the id column
    from the thin ``_doclens`` sidecar instead of a full postings-root
    listing — and heals _doclens debris first, so stranded
    ``batch=<id>.erase_*`` dirs (from a crashed delete) cannot poison
    its partition discovery.  Debris under the POSTINGS root is
    irrelevant to this path (never read)."""
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        retrieval as R,
    )

    docs = spark.createDataFrame(
        [(i, f"spark doc{i % 3}") for i in range(9)], "doc_id long, text string"
    )
    idx = str(tmp_path / "bm25_empty")
    R.write_bm25_index(docs, idx, n_buckets=4)
    # staging debris beside live segments in BOTH roots (crash mid-write)
    os.makedirs(os.path.join(idx, "batch=0.erase_staging"))
    os.makedirs(os.path.join(idx, "_doclens", "batch=0.erase_staging"))
    out = R.bm25_topk_indexed(spark, idx, [], k=10)
    assert out.columns == ["doc_id", "n_matched_terms", "bm25_score"]
    assert out.count() == 0
    # the _doclens debris was healed away; postings debris untouched
    assert not os.path.isdir(os.path.join(idx, "_doclens", "batch=0.erase_staging"))
    assert os.path.isdir(os.path.join(idx, "batch=0.erase_staging"))


def test_ivfpq_append_struct_key_handles_hash_in_string_ids(spark, tmp_path):
    """r15 advisory (low): the append's (id, cluster) encode key is a
    STRUCT, not a '#'-delimited string concat — string ids containing
    '#' must round-trip without cross-wiring codes.  Each appended id
    carries exactly assign_n code rows with distinct clusters, and the
    exhaustive probe equals brute-force L2 over the union."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )

    ids = [f"doc#{i}#x" if i % 3 == 0 else f"d{i}" for i in range(24)]
    vecs = spark.createDataFrame(
        [(ids[i], [float((i * 5) % 7), float(i % 4), 1.0, float(i % 9)])
         for i in range(24)],
        "doc string, embedding array<double>",
    )
    normed = S.unit_normalize(vecs).localCheckpoint(eager=True)
    part_a = normed.filter(F.length("doc") <= 3)
    part_b = normed.filter(F.length("doc") > 3)
    idx = str(tmp_path / "ivfpq_hash_ids")
    kw = dict(n_clusters=3, m=2, codes_k=8, coarse_iterations=1,
              pq_iterations=1, assign_n=2)
    S.write_ivfpq_index(part_a, idx, id_col="doc", **kw)
    out = S.append_ivfpq_index(part_b, idx, id_col="doc")
    assert out["n_vectors"] == part_b.count()

    import os

    seg = spark.read.parquet(os.path.join(idx, "codes", "batch=1"))
    per_id = seg.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("cluster").alias("nc"),
    )
    assert per_id.filter((F.col("n") != 2) | (F.col("nc") != 2)).count() == 0

    q = [0.5, 0.5, 0.5, 0.5]
    got = [
        r["doc"]
        for r in S.ivfpq_topk_indexed(
            spark, idx, normed, q, k=6, nprobe=3, shortlist=24, id_col="doc"
        ).collect()
    ]
    probe = spark.createDataFrame([("__q__", q)], "doc string, embedding array<double>")
    want = [
        r["doc"]
        for r in S.brute_force_topk(
            normed.union(probe), query_vec_id="__q__", k=6, id_col="doc"
        ).collect()
    ]
    assert got == want


def test_filtered_ann_probe_matches_filtered_brute_force(spark, sf_dir, tmp_path):
    """r14 verdict missing #2 / r15 directive #1: metadata-filtered ANN.
    The predicate must apply BEFORE ranking — a post-top-k filter
    returns <k rows — and the written-index probe
    (ivf_topk_indexed_filtered) pushes it INSIDE the partition-pruned
    cluster scan: at nprobe = n_clusters it is EXACT vs
    brute_force_topk_filtered; at serving nprobe every returned row
    still satisfies the predicate.  The label predicate reaches the
    parquet scan as a pushed filter (reader-level row-group pruning at
    scale) while cluster pruning stays a PartitionFilter."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    embs = load(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    q = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    want = S.brute_force_topk_filtered(embs, 0, "label = 3", k=10).collect()
    assert len(want) == 10
    label3 = {r["vec_id"] for r in embs.filter("label = 3").collect()}
    assert {r["vec_id"] for r in want} <= label3

    # the shape matters: post-filtering the UNFILTERED top-10 loses rows
    post = [
        r for r in S.brute_force_topk(embs, 0, k=10).collect()
        if r["vec_id"] in label3
    ]
    assert len(post) < 10

    path = str(tmp_path / "ivf_filtered")
    S.write_ivf_index(embs, path, n_clusters=6, iterations=2)
    exact = S.ivf_topk_indexed_filtered(
        spark, path, q, "label = 3", k=10, nprobe=6, exclude_vec_id=0
    )
    got = exact.collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    for g, w in zip(got, want):
        assert abs(g["cos_sim"] - w["cos_sim"]) < 1e-12

    plan = exact._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan
    assert "EqualTo(label,3)" in plan, "label predicate must reach the scan"

    # serving nprobe: recall may drop, eligibility may not
    serving = S.ivf_topk_indexed_filtered(
        spark, path, q, F.col("label") == 3, k=10, nprobe=3, exclude_vec_id=0
    ).collect()
    assert 0 < len(serving) <= 10
    assert {r["vec_id"] for r in serving} <= label3


def test_filtered_ann_probes_return_empty_on_no_matching_rows(spark, tmp_path):
    """A predicate matching nothing returns an EMPTY frame with the
    standard probe schema — never an error, never unfiltered rows
    (the <k-rows contract taken to its k=0 extreme)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 5), 0.25], i % 2) for i in range(20)],
        "vec_id long, embedding array<double>, label int",
    )
    q = [1.0, 1.0, 1.0, 1.0]
    assert S.brute_force_topk_filtered(vecs, 0, "label = 99", k=5).count() == 0

    ivf = str(tmp_path / "ivf_nomatch")
    S.write_ivf_index(vecs, ivf, n_clusters=2, iterations=1)
    out = S.ivf_topk_indexed_filtered(spark, ivf, q, "label = 99", k=5, nprobe=2)
    assert out.columns == ["vec_id", "cos_sim"] and out.count() == 0


def test_bm25_eligible_filter_keeps_collection_stats(spark, sf_dir, tmp_path):
    """r15 (r16 queue): Lucene filtered-query semantics for BM25 — the
    ``eligible`` predicate shrinks the RANKING POOL only; corpus
    statistics stay collection-wide, so an eligible doc's
    (n_matched_terms, bm25_score) is IDENTICAL with and without the
    filter.  The written-index twin (``eligible_ids`` id-frame) is
    bit-equal to the in-memory form."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        retrieval as R,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    terms = ["spark", "stream", "hash", "dup"]
    n = docs.count()
    full = {
        r["doc_id"]: (r["n_matched_terms"], r["bm25_score"])
        for r in R.bm25_topk(docs, terms, k=n).collect()
    }
    filt = R.bm25_topk(
        docs, terms, k=n, eligible=F.col("lang") == "en"
    ).collect()
    en = {r["doc_id"] for r in docs.filter("lang = 'en'").collect()}
    assert filt and {r["doc_id"] for r in filt} <= en
    for r in filt:
        assert (r["n_matched_terms"], r["bm25_score"]) == full[r["doc_id"]], (
            "eligibility filtering must not change collection-wide scores"
        )
    # the filtered pool is the en-restriction of the full ranking
    want_ids = sorted(
        (d for d in full if d in en),
        key=lambda d: (-full[d][1], d),
    )[: len(filt)]
    assert [r["doc_id"] for r in filt] == want_ids

    idx = str(tmp_path / "bm25_eligible")
    R.write_bm25_index(docs, idx, n_buckets=16)
    en_ids = docs.filter("lang = 'en'").select("doc_id")
    got = [
        tuple(r)
        for r in R.bm25_topk_indexed(
            spark, idx, terms, k=10, eligible_ids=en_ids
        ).collect()
    ]
    want = [
        tuple(r)
        for r in R.bm25_topk(
            docs, terms, k=10, eligible=F.col("lang") == "en"
        ).collect()
    ]
    assert got == want and len(got) == 10


def test_lsh_bm25_ivf_rebuild_failure_preserves_old_index(spark, tmp_path):
    """r15: the staged-swap rebuild discipline extended from PQ/IVFPQ
    to the whole write_* family — a failing rebuild of an LSH, BM25,
    or IVF index leaves the OLD index live and probe-able (the pre-r15
    delete-then-build order left nothing)."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        retrieval as R,
        similarity as S,
    )

    vecs = spark.createDataFrame(
        [(i, [float((i * 3) % 7), float(i % 5), 1.0, float(i % 4)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    bad_vecs = vecs.withColumn(
        "vec_id", F.when(F.raise_error(F.lit("boom")).isNull(), F.col("vec_id"))
    )
    q = [1.0, 0.5, 1.0, 0.5]

    lsh = str(tmp_path / "lsh_staged")
    S.write_lsh_index(vecs, lsh, planes=2, dims=4)
    before = [
        tuple(r)
        for r in S.lsh_topk_indexed(spark, lsh, query_vec=q, k=5, nprobe=4).collect()
    ]
    with pytest.raises(Exception, match="boom"):
        S.write_lsh_index(bad_vecs, lsh, planes=2, dims=4)
    assert [
        tuple(r)
        for r in S.lsh_topk_indexed(spark, lsh, query_vec=q, k=5, nprobe=4).collect()
    ] == before

    ivf = str(tmp_path / "ivf_staged")
    S.write_ivf_index(vecs, ivf, n_clusters=3, iterations=1)
    before = [
        tuple(r) for r in S.ivf_topk_indexed(spark, ivf, q, k=5, nprobe=3).collect()
    ]
    with pytest.raises(Exception, match="boom"):
        S.write_ivf_index(bad_vecs, ivf, n_clusters=3, iterations=1)
    assert [
        tuple(r) for r in S.ivf_topk_indexed(spark, ivf, q, k=5, nprobe=3).collect()
    ] == before

    docs = spark.createDataFrame(
        [(i, f"spark doc{i % 3} stream") for i in range(12)],
        "doc_id long, text string",
    )
    bad_docs = docs.withColumn(
        "doc_id", F.when(F.raise_error(F.lit("boom")).isNull(), F.col("doc_id"))
    )
    bm = str(tmp_path / "bm25_staged")
    R.write_bm25_index(docs, bm, n_buckets=4)
    before = [tuple(r) for r in R.bm25_topk_indexed(spark, bm, ["spark"], k=12).collect()]
    with pytest.raises(Exception, match="boom"):
        R.write_bm25_index(bad_docs, bm, n_buckets=4)
    assert [
        tuple(r) for r in R.bm25_topk_indexed(spark, bm, ["spark"], k=12).collect()
    ] == before


def test_lsh_filtered_probe_matches_filtered_brute_force(spark, sf_dir, tmp_path):
    """A member of the r15 filtered-ANN family: the LSH probe's
    predicate is evaluated inside the bucket-pruned scan (full rows
    ride in the layout; exact at nprobe = 2^planes).  Both the SQL and
    the id-frame predicate forms are exercised."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    embs = load(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    q = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    want = [
        r["vec_id"]
        for r in S.brute_force_topk_filtered(embs, 0, "label = 3", k=10).collect()
    ]
    label3 = {r["vec_id"] for r in embs.filter("label = 3").collect()}

    lsh = str(tmp_path / "lsh_filtered")
    S.write_lsh_index(embs, lsh, planes=2, dims=len(q))
    got = [
        r["vec_id"]
        for r in S.lsh_topk_indexed(
            spark, lsh, query_vec=q, query_vec_id=0, k=10, nprobe=4,
            predicate="label = 3",
        ).collect()
    ]
    assert got == want and len(got) == 10
    # serving nprobe + id-frame predicate form: eligibility holds
    serving = S.lsh_topk_indexed(
        spark, lsh, query_vec=q, query_vec_id=0, k=10, nprobe=2,
        predicate=embs.filter("label = 3").select("vec_id"),
    ).collect()
    assert {r["vec_id"] for r in serving} <= label3


def test_ivf_compaction_heals_orphaned_id_map_slice(spark, tmp_path):
    """r15 follow-through on the id_map-FIRST append ordering: a crash
    between the id_map write and the vectors write orphans an _id_map
    slice.  A direct retry heals it (same default batch id — pinned
    elsewhere); compaction must too, by REBUILDING _id_map from the
    vector store instead of folding the phantom ids into batch=0 —
    otherwise a later append of those ids would fail the overlap check
    forever."""
    import os
    import shutil

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        segstore,
        similarity as S,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, float(i % 3), 0.5]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    part_a = vecs.filter(F.col("vec_id") < 16)
    part_b = vecs.filter(F.col("vec_id") >= 16)
    idx = str(tmp_path / "ivf_orphan")
    S.write_ivf_index(part_a, idx, n_clusters=2, iterations=1)
    S.append_ivf_index(part_b, idx)
    # crash window: id_map slice landed, vectors batch=1 did not
    shutil.rmtree(os.path.join(idx, "vectors", "batch=1"))
    segstore.compact("ivf", spark, idx)
    im = spark.read.parquet(os.path.join(idx, "_id_map"))
    assert im.count() == 16  # phantom ids NOT folded in
    # the once-crashed increment appends cleanly after compaction
    out = S.append_ivf_index(part_b, idx)
    assert out["n_vectors"] == 8
    q = [1.0, 1.0, 1.0, 0.5]
    got = [
        r["vec_id"]
        for r in S.ivf_topk_indexed(spark, idx, q, k=6, nprobe=2).collect()
    ]
    want = [
        r["vec_id"]
        for r in S.brute_force_topk(
            vecs.union(spark.createDataFrame([(10**9, q)], vecs.schema)),
            query_vec_id=10**9,
            k=6,
        ).collect()
    ]
    assert got == want


def test_lsh_append_crash_before_vectors_write_retries_clean(spark, tmp_path):
    """r15: the append_ivf_index crash-ordering advisory applied to its
    LSH twin (found by symmetry audit): _write_lsh_segment lays the
    _id_map slice down BEFORE the vectors segment, so a crash between
    the writes leaves only the orphan slice — a retry replays the SAME
    default batch id (listed from the vectors root) and overwrites
    both.  The old vectors-first order gave the retry batch max+1 and
    the overlap check (which reads _id_map) let every id in twice.
    Compaction also heals the orphan by rebuilding _id_map from the
    store."""
    import os
    import shutil

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        segstore,
        similarity as S,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, float(i % 3), 0.5]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    part_a = vecs.filter(F.col("vec_id") < 16)
    part_b = vecs.filter(F.col("vec_id") >= 16)
    idx = str(tmp_path / "lsh_crash")
    S.write_lsh_index(part_a, idx, planes=2, dims=4)
    out = S.append_lsh_index(part_b, idx)
    assert out["batch_id"] == 1
    # crash window: _id_map slice landed, vectors batch=1 did not
    shutil.rmtree(os.path.join(idx, "batch=1"))
    out = S.append_lsh_index(part_b, idx)
    assert out["batch_id"] == 1 and out["n_vectors"] == 8
    im = spark.read.parquet(os.path.join(idx, "_id_map"))
    assert im.count() == im.select("vec_id").distinct().count() == 24
    q = [1.0, 1.0, 1.0, 0.5]
    got = [
        tuple(r)
        for r in S.lsh_topk_indexed(spark, idx, query_vec=q, k=8, nprobe=4).collect()
    ]
    rebuild = str(tmp_path / "lsh_crash_rebuild")
    S.write_lsh_index(vecs, rebuild, planes=2, dims=4)
    want = [
        tuple(r)
        for r in S.lsh_topk_indexed(
            spark, rebuild, query_vec=q, k=8, nprobe=4
        ).collect()
    ]
    assert got == want

    # orphan slice + COMPACTION: phantom ids must not fold into batch=0
    idx2 = str(tmp_path / "lsh_orphan")
    S.write_lsh_index(part_a, idx2, planes=2, dims=4)
    S.append_lsh_index(part_b, idx2)
    shutil.rmtree(os.path.join(idx2, "batch=1"))
    segstore.compact("lsh", spark, idx2)
    assert spark.read.parquet(os.path.join(idx2, "_id_map")).count() == 16
    assert S.append_lsh_index(part_b, idx2)["n_vectors"] == 8


def test_bm25_append_crash_before_postings_write_retries_clean(spark, tmp_path):
    """r15 symmetry audit, the BM25 member: _write_bm25_segment lays
    _doclens (the overlap-validation slice) down BEFORE the postings
    dir that batch-id discovery lists.  A crash between the two leaves
    the batch undiscoverable, so a default-id retry replays the SAME
    batch id and overwrites every directory — the pre-r15
    postings-first order gave the retry max+1 and double-counted
    stats.  Probe after the healed retry is bit-equal to a full
    rebuild."""
    import os
    import shutil

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        retrieval as R,
    )

    docs = spark.createDataFrame(
        [(i, f"spark stream doc{i % 4} tok{i % 7}") for i in range(24)],
        "doc_id long, text string",
    )
    part_a = docs.filter(F.col("doc_id") < 16)
    part_b = docs.filter(F.col("doc_id") >= 16)
    idx = str(tmp_path / "bm25_crash_order")
    R.write_bm25_index(part_a, idx, n_buckets=4)
    out = R.append_bm25_index(part_b, idx)
    assert out["batch_id"] == 1
    # crash window: params + doclens slices landed, postings (and the
    # termstats derived from them) did not
    shutil.rmtree(os.path.join(idx, "batch=1"))
    shutil.rmtree(os.path.join(idx, "_termstats", "batch=1"))
    out = R.append_bm25_index(part_b, idx)
    assert out["batch_id"] == 1 and out["n_docs"] == 8
    terms = ["spark", "doc1", "tok2"]
    got = [tuple(r) for r in R.bm25_topk_indexed(spark, idx, terms, k=24).collect()]
    rebuilt = str(tmp_path / "bm25_crash_rebuild")
    R.write_bm25_index(docs, rebuilt, n_buckets=4)
    want = [tuple(r) for r in R.bm25_topk_indexed(spark, rebuilt, terms, k=24).collect()]
    assert got == want and len(got) == 24


def test_bm25_compaction_heals_orphaned_append_slice(spark, tmp_path):
    """The orphan + compaction block of the LSH crash test, for BM25: an
    append that crashed after its _bm25_params/_doclens slices but
    before the postings (and _termstats) leaves orphaned slices.
    Compaction folds only the segments discoverable in the store, so
    the statistics and the membership table cover exactly the live
    docs, the crashed increment then appends cleanly, and the probe is
    bit-equal to a rebuild."""
    import os
    import shutil

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        retrieval as R,
        segstore,
    )

    docs = spark.createDataFrame(
        [(i, f"spark stream doc{i % 4} tok{i % 7}") for i in range(24)],
        "doc_id long, text string",
    )
    part_a = docs.filter(F.col("doc_id") < 16)
    part_b = docs.filter(F.col("doc_id") >= 16)
    idx = str(tmp_path / "bm25_orphan")
    R.write_bm25_index(part_a, idx, n_buckets=4)
    R.append_bm25_index(part_b, idx)
    shutil.rmtree(os.path.join(idx, "batch=1"))
    shutil.rmtree(os.path.join(idx, "_termstats", "batch=1"))
    segstore.compact("bm25", spark, idx)

    def params(root):
        p = spark.read.parquet(os.path.join(root, "_bm25_params"))
        return tuple(p.agg(F.sum("n_docs"), F.sum("sum_dl")).first())

    live = str(tmp_path / "bm25_live")
    R.write_bm25_index(part_a, live, n_buckets=4)
    assert spark.read.parquet(os.path.join(idx, "_doclens")).count() == 16
    assert params(idx) == params(live) and params(idx)[0] == 16
    assert R.append_bm25_index(part_b, idx)["n_docs"] == 8
    terms = ["spark", "doc1", "tok2"]
    rebuilt = str(tmp_path / "bm25_rebuild")
    R.write_bm25_index(docs, rebuilt, n_buckets=4)
    got = [tuple(r) for r in R.bm25_topk_indexed(spark, idx, terms, k=24).collect()]
    want = [tuple(r) for r in R.bm25_topk_indexed(spark, rebuilt, terms, k=24).collect()]
    assert got == want and len(got) == 24


def test_filtered_probe_composes_with_append_and_delete(spark, tmp_path):
    """r15 compose-point: the filtered probe over a LIVED-IN index —
    build, append (two segments), delete across both — must equal
    brute-force-filtered over the surviving corpus at exhaustive
    nprobe: the predicate semi-structure cannot interact badly with
    segment discovery, and deletions are invisible to the filter."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )

    vecs = spark.createDataFrame(
        [
            (i, [float((i * 3) % 7), 1.0, float(i % 5), 0.25], i % 3)
            for i in range(40)
        ],
        "vec_id long, embedding array<double>, label int",
    )
    idx = str(tmp_path / "ivf_lived_in")
    S.write_ivf_index(vecs.filter(F.col("vec_id") < 28), idx, n_clusters=3,
                      iterations=1)
    S.append_ivf_index(vecs.filter(F.col("vec_id") >= 28), idx)
    victims = [3, 9, 30, 36]  # label-0 members across both segments
    out = S.delete_from_ivf_index(spark, idx, victims)
    assert out["vectors_deleted"] == 4
    survivors = vecs.filter(~F.col("vec_id").isin(victims))
    q = [1.0, 1.0, 1.0, 0.5]
    got = [
        r["vec_id"]
        for r in S.ivf_topk_indexed_filtered(
            spark, idx, q, "label = 0", k=8, nprobe=3
        ).collect()
    ]
    probe = spark.createDataFrame(
        [(10**9, q, 99)], "vec_id long, embedding array<double>, label int"
    )
    want = [
        r["vec_id"]
        for r in S.brute_force_topk_filtered(
            survivors.union(probe), 10**9, "label = 0", k=8
        ).collect()
    ]
    assert got == want and len(got) == len(
        [v for v in range(40) if v % 3 == 0 and v not in victims][:8]
    ) == 8


def test_ivf_batch_filtered_matches_single_query_filtered(spark, sf_dir, tmp_path):
    """r15: the batched probe's shared predicate (the per-tenant
    batch-serving shape) must equal the single-query filtered probe
    per query at the same nprobe — and every returned row satisfies
    the predicate."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    embs = load(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in embs.filter(F.col("vec_id") < 3).collect()
    ]
    idx = str(tmp_path / "ivf_batch_filtered")
    S.write_ivf_index(embs, idx, n_clusters=6, iterations=2)
    batch = S.ivf_topk_indexed_batch(
        spark, idx, qs, k=10, nprobe=6, predicate="label = 3"
    )
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["rnk"], r["vec_id"], r["cos_sim"]))
    label3 = {r["vec_id"] for r in embs.filter("label = 3").collect()}
    assert set(got) == {0, 1, 2}
    for qid, qv in qs:
        single = S.ivf_topk_indexed_filtered(
            spark, idx, qv, "label = 3", k=10, nprobe=6, exclude_vec_id=qid
        ).collect()
        rows = sorted(got[qid])
        assert [v for _, v, _ in rows] == [r["vec_id"] for r in single]
        assert {v for _, v, _ in rows} <= label3
        for (_, _, a), r in zip(rows, single):
            assert abs(a - r["cos_sim"]) < 1e-12


def test_prefix_jaccard_matches_uncapped_inverted_index(spark, sf_dir):
    """prefix_jaccard_pairs is an EXACT algorithm: on the fixture
    corpus it must equal the uncapped inverted-index join bit-for-bit
    (pair set AND jaccard doubles) at the registry threshold."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_jaccard_pairs,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in prefix_jaccard_pairs(docs, threshold=0.5).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert len(got) > 0
    assert got == want


@pytest.mark.slow
def test_prefix_jaccard_matches_python_reference_threshold_sweep(spark):
    """Filter-soundness sweep: random corpus (short docs, repeats)
    against a brute-force all-pairs reference at thresholds including
    non-binary-representable ones (0.3/0.6) — the floor-rounded prefix
    length and length/positional filters must never lose a pair."""
    import itertools
    import random as _random

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    rng = _random.Random(77)
    vocab = [f"w{i}" for i in range(14)]
    docs = []
    for i in range(45):
        length = rng.choice([1, 2, 3, 5, 8, 30, 60])
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(length))))
    # seed exact and near duplicates so high thresholds are non-empty
    docs.append((100, docs[3][1]))
    docs.append((101, docs[7][1] + " extra token here"))

    def py_shingles(text, n=3):
        toks = text.split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for t in (0.3, 0.5, 0.6, 0.8, 0.95):
        expected = {}
        for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
            sa, sb = py_shingles(ta), py_shingles(tb)
            inter = len(sa & sb)
            if inter:
                j = inter / (len(sa) + len(sb) - inter)
                if j >= t:
                    expected[(min(ia, ib), max(ia, ib))] = round(j, 9)
        got = {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in prefix_jaccard_pairs(df, threshold=t).collect()
        }
        assert got == expected, f"threshold {t}"


def test_prefix_jaccard_exact_on_boilerplate_heavy_corpus(spark):
    """The design point: a universal boilerplate shingle forces
    ngram_jaccard_pairs to choose between skew (uncapped) and changed
    semantics (capped drops pairs that genuinely qualify).  The prefix
    join returns the uncapped ground truth — the hot shingle lands at
    the df-sorted TAIL of every doc, outside every prefix, so it never
    reaches the candidate join at all."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_jaccard_pairs,
    )

    # every doc opens with the same 3 tokens (one shared hot shingle);
    # docs 2i/2i+1 are near-dups of each other beyond the boilerplate
    docs = []
    for i in range(12):
        body = " ".join(f"t{i}_{j}" for j in range(8))
        docs.append((2 * i, f"common header line {body}"))
        docs.append((2 * i + 1, f"common header line {body} tail{i}"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    want = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in prefix_jaccard_pairs(df, threshold=0.5).collect()
    }
    assert len(got) == 12  # exactly the seeded near-dup pairs
    assert got == want
    # the capped path at this corpus's hot-shingle df would lose pairs
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.5, max_doc_freq=4).collect()
    }
    assert capped != got


def test_prefix_jaccard_leaves_no_cached_dataframes(spark, sf_dir):
    """prefix_jaccard_pairs persists the doc-level shingle frame; it
    must unpersist before returning (result is localCheckpoint-ed)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    docs = load(spark, sf_dir, "documents")
    assert prefix_jaccard_pairs(docs, threshold=0.5).count() > 0
    assert cm.isEmpty(), "prefix_jaccard_pairs leaked a cached DataFrame"


def _py_levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_matches_python_reference(spark):
    """edit_distance_pairs vs a quadratic python Levenshtein reference
    on a corpus of random strings with seeded typos (substitution,
    insertion, deletion, transposition-as-two-edits), exact dups,
    empty and sub-q strings — at d = 0, 1, 2, 3.  The q-gram count
    filter, length filter, and short-string bucket must never lose a
    pair."""
    import itertools
    import random as _random

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        edit_distance_pairs,
    )

    rng = _random.Random(31)
    alpha = "abcdef"
    base = ["".join(rng.choice(alpha) for _ in range(rng.choice([0, 1, 2, 4, 8, 15, 24])))
            for _ in range(60)]
    strs = list(base)
    for i in (3, 7, 11):
        t = list(base[i])
        if t:
            t[rng.randrange(len(t))] = rng.choice(alpha)     # substitution
        strs.append("".join(t))
        strs.append(base[i] + rng.choice(alpha))              # insertion
        strs.append(base[i][:-1])                             # deletion
    strs.append(base[5])                                      # exact dup
    rows = list(enumerate(strs))
    df = spark.createDataFrame(rows, "id long, s string")
    for d in (0, 1, 2, 3):
        want = {
            (ia, ib, _py_levenshtein(sa, sb))
            for (ia, sa), (ib, sb) in itertools.combinations(rows, 2)
            if _py_levenshtein(sa, sb) <= d
        }
        got = {
            tuple(r)
            for r in edit_distance_pairs(df, "id", "s", max_dist=d).collect()
        }
        assert got == want, f"d={d}"


def test_edit_distance_pairs_fuzzy_catches_what_exact_prefix_misses(spark):
    """The family's reason to exist: a one-character typo in a shared
    header defeats exact prefix fingerprinting but is a d=1 edit
    pair."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        edit_distance_pairs,
        prefix_dup_groups,
    )

    docs = [
        (1, "introduction to spark streaming pipelines"),
        (2, "introduttion to spark streaming pipelines"),  # typo
        (3, "completely different body of text here now"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    exact = prefix_dup_groups(df, k=5).collect()
    assert exact == []  # the typo breaks byte-exact prefix grouping
    got = {
        (r["id_a"], r["id_b"], r["edit_distance"])
        for r in edit_distance_pairs(df, "doc_id", "text", max_dist=1).collect()
    }
    assert got == {(1, 2, 1)}


def test_edit_distance_pairs_matches_quadratic_spark_reference(spark, sf_dir):
    """Fixture-scale pin: doc 24-char prefixes at d=2 must equal the
    filter-free quadratic levenshtein join."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        edit_distance_pairs,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 24).alias("prefix")
    )
    got = {
        tuple(r)
        for r in edit_distance_pairs(docs, "doc_id", "prefix", max_dist=2).collect()
    }
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("prefix").alias("_pa"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("prefix").alias("_pb"))
    want = {
        tuple(r)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("edit_distance", F.levenshtein("_pa", "_pb"))
        .filter(F.col("edit_distance") <= 2)
        .select("id_a", "id_b", "edit_distance")
        .collect()
    }
    assert len(want) > 0
    assert got == want


def test_tf_cosine_matches_python_reference_threshold_sweep(spark):
    """tf_cosine_pairs vs a brute-force python reference (exact float
    equality — integer dot/norms + IEEE sqrt/mul/div are bit-stable
    across engines and in CPython) on a random corpus with seeded
    exact dups, proportional rewrites, and frequency shifts; capped
    and uncapped."""
    import itertools
    import math
    import random as _random
    from collections import Counter

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        tf_cosine_pairs,
    )

    rng = _random.Random(23)
    vocab = [f"w{i}" for i in range(20)]
    docs = []
    for i in range(40):
        length = rng.choice([3, 5, 10, 30])
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(length))))
    docs.append((100, docs[2][1]))                      # exact dup
    toks7 = docs[7][1].split()
    rng.shuffle(toks7)
    docs.append((101, " ".join(toks7 * 2)))             # proportional rewrite: cosine 1.0
    docs.append((102, docs[9][1] + " " + docs[9][1].split()[0] * 1))

    def ref_pairs(t, cap):
        tfs = {i: Counter(txt.split()) for i, txt in docs}
        if cap is not None:
            dfreq = Counter(w for c in tfs.values() for w in c)
            tfs = {
                i: Counter({w: n for w, n in c.items() if dfreq[w] <= cap})
                for i, c in tfs.items()
            }
        out = {}
        for (ia, ca), (ib, cb) in itertools.combinations(
            ((i, c) for i, c in tfs.items() if c), 2
        ):
            dot = sum(ca[w] * cb[w] for w in ca.keys() & cb.keys())
            if dot:
                cos = dot / (
                    math.sqrt(sum(v * v for v in ca.values()))
                    * math.sqrt(sum(v * v for v in cb.values()))
                )
                if cos >= t:
                    out[(min(ia, ib), max(ia, ib))] = cos
        return out

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for cap in (None, 10):
        for t in (0.5, 0.8, 0.95):
            got = {
                (r["doc_a"], r["doc_b"]): r["cosine"]
                for r in tf_cosine_pairs(
                    df, threshold=t, max_doc_freq=cap
                ).collect()
            }
            assert got == ref_pairs(t, cap), (cap, t)


def test_tf_cosine_is_frequency_aware_where_jaccard_is_not(spark):
    """The metric's reason to exist: same vocabulary at different
    frequencies — token-set Jaccard is 1.0 (identical sets) while tf
    cosine is < 1; and a reordering that preserves counts has cosine
    exactly 1.0."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        tf_cosine_pairs,
    )

    docs = [
        (1, "alpha beta alpha beta alpha"),     # tf {alpha:3, beta:2}
        (2, "alpha beta beta beta beta"),       # same set, tf {1, 4}
        (3, "beta alpha alpha beta alpha"),     # reordering of doc 1
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    # threshold must be strictly positive (zero-cosine pairs are
    # structurally unreachable — r16 ADVICE guard); 1e-9 keeps every
    # shared-vocabulary pair this test inspects
    got = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in tf_cosine_pairs(df, threshold=1e-9).collect()
    }
    import math

    # identical tf vectors: the IEEE expression 13/(sqrt(13)*sqrt(13))
    # is within one ulp of 1.0 and BIT-EQUAL to the python evaluation
    assert got[(1, 3)] == 13 / (math.sqrt(13) * math.sqrt(13))
    assert abs(got[(1, 3)] - 1.0) < 1e-12
    assert got[(1, 2)] < 0.99 and got[(2, 3)] < 0.99
    assert got[(1, 2)] < got[(1, 3)] and got[(2, 3)] < got[(1, 3)]


def test_tf_cosine_rejects_nonpositive_threshold(spark):
    """threshold <= 0 raises instead of silently dropping the
    zero-cosine pairs the term join can never generate (r16 ADVICE)."""
    import pytest as _pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        tf_cosine_pairs,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["doc_id", "text"])
    for bad in (0.0, -0.5):
        with _pytest.raises(ValueError, match="threshold must be > 0"):
            tf_cosine_pairs(df, threshold=bad)


def test_tf_cosine_leaves_no_cached_dataframes(spark, sf_dir):
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        tf_cosine_pairs,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    docs = load(spark, sf_dir, "documents")
    assert tf_cosine_pairs(docs, threshold=0.9, max_doc_freq=50).count() > 0
    assert cm.isEmpty(), "tf_cosine_pairs leaked a cached DataFrame"


def test_prefix_jaccard_new_pairs_equals_full_join_on_union(spark, sf_dir):
    """r16 verdict directive #8: the incremental prefix-filtered
    Jaccard join (corpus-prefix index probed by the batch) must be
    BIT-EQUAL to recomputing the full self-join over corpus ∪ batch
    and keeping the pairs that involve a batch doc — even though the
    two rank shingles by DIFFERENT global orders (corpus-df vs
    union-df; the prefix lemma is order-invariant)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        prefix_jaccard_new_pairs,
        prefix_jaccard_pairs,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in prefix_jaccard_new_pairs(corpus, batch, threshold=0.5).collect()
    }
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    want = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in prefix_jaccard_pairs(docs, threshold=0.5).collect()
        if r["doc_a"] in batch_ids or r["doc_b"] in batch_ids
    }
    assert len(got) > 0
    assert got == want
    # corpus-corpus pairs are structurally absent: every returned pair
    # involves a batch doc
    assert all(a in batch_ids or b in batch_ids for a, b in got)


def test_prefix_containment_new_pairs_roles_cross_batch_boundary(spark, sf_dir):
    """The incremental containment twin: asymmetric small/large roles
    must cross the batch boundary both ways — a NEW excerpt inside an
    OLD page and an OLD excerpt inside a NEW page are both found — and
    the fixture-scale output equals the full prefix_containment_pairs
    over corpus ∪ batch restricted to batch-involving pairs."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        prefix_containment_new_pairs,
        prefix_containment_pairs,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    # synthetic boundary-crossing excerpts first (deterministic)
    body = " ".join(f"w{i}" for i in range(40))
    corpus_rows = [(1, body), (2, " ".join(f"c{i}" for i in range(30)))]
    old_excerpt = " ".join(body.split()[5:12])
    corpus_rows.append((3, old_excerpt))  # old excerpt of... nothing yet
    new_body = " ".join(f"n{i}" for i in range(40))
    batch_rows = [
        (100, " ".join(body.split()[10:20])),  # NEW excerpt of OLD page 1
        (101, new_body + " " + old_excerpt.replace(" ", "x ")),  # noise
        (102, new_body),                       # NEW page...
        (103, " ".join(new_body.split()[3:10])),  # ...with a NEW excerpt
    ]
    corpus_rows.append((4, " ".join(new_body.split()[20:28])))  # OLD excerpt of NEW page
    cdf = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    ndf = spark.createDataFrame(batch_rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in prefix_containment_new_pairs(cdf, ndf, threshold=1.0).collect()
    }
    assert (1, 100) in got and got[(1, 100)] == 1.0   # new-in-old
    assert (4, 102) in got and got[(4, 102)] == 1.0   # old-in-new
    assert (102, 103) in got and got[(102, 103)] == 1.0  # new-in-new
    assert not any(a in (1, 2, 3, 4) and b in (1, 2, 3, 4) for a, b in got)

    # fixture-scale differential
    docs = load(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in prefix_containment_new_pairs(
            corpus, batch, threshold=0.9
        ).collect()
    }
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    want = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in prefix_containment_pairs(docs, threshold=0.9).collect()
        if r["doc_a"] in batch_ids or r["doc_b"] in batch_ids
    }
    assert len(got) > 0
    assert got == want


def test_prefix_new_pairs_guards_and_no_cached_dataframes(spark, sf_dir):
    """Both incremental twins reject overlapping ids (pair identity
    would be ambiguous) and a threshold <= 0 (zero-overlap pairs are
    structurally unreachable — the family guard, r17 review), and
    unpersist everything they cache."""
    import pytest as _pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        prefix_containment_new_pairs,
        prefix_jaccard_new_pairs,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    a = spark.createDataFrame([(1, "x y z")], ["doc_id", "text"])
    b = spark.createDataFrame([(1, "x y z w")], ["doc_id", "text"])
    c = spark.createDataFrame([(2, "x y z w")], ["doc_id", "text"])
    for fn in (prefix_jaccard_new_pairs, prefix_containment_new_pairs):
        with _pytest.raises(ValueError, match="share ids"):
            fn(a, b)
        for bad in (0.0, -0.5):
            with _pytest.raises(ValueError, match="threshold must be > 0"):
                fn(a, c, threshold=bad)
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    docs = load(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    assert prefix_jaccard_new_pairs(corpus, batch, threshold=0.5).count() > 0
    assert prefix_containment_new_pairs(corpus, batch, threshold=0.9).count() > 0
    assert cm.isEmpty(), "incremental prefix joins leaked a cached DataFrame"


def test_cosine_prefix_matches_uncapped_term_join(spark, sf_dir):
    """cosine_prefix_pairs is an EXACT algorithm: on the fixture corpus
    it must equal tf_cosine_pairs(max_doc_freq=None) bit-for-bit (pair
    set AND cosine doubles) at the registry threshold."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        cosine_prefix_pairs,
        tf_cosine_pairs,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    got = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in cosine_prefix_pairs(docs, threshold=0.9).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in tf_cosine_pairs(docs, threshold=0.9, max_doc_freq=None).collect()
    }
    assert len(got) > 0
    assert got == want


def test_cosine_verify_dense_equals_map_fallback(spark, sf_dir):
    """r18 optimization: candidate verification has two arms — the
    dense numpy gather+einsum path (taken when the reps' tf matrix is
    under the broadcast cells cap) and the map_zip_with forward-index
    join (the fallback above the cap).  Both must produce bit-identical
    output: the dot is the same exact long either way (integer adds are
    order-independent) and the epilogue is the same IEEE expression.
    ``cells_cap=0`` forces the fallback; the default takes the dense
    path on the fixture (vocab 31 x ~5k reps)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        cosine_prefix_new_pairs,
        cosine_prefix_pairs,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    dense = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in cosine_prefix_pairs(docs, threshold=0.9).collect()
    }
    mapped = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in cosine_prefix_pairs(
            docs, threshold=0.9, dense_verify_cells_cap=0
        ).collect()
    }
    assert len(dense) > 0
    assert dense == mapped

    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    dense_n = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in cosine_prefix_new_pairs(corpus, batch, threshold=0.9).collect()
    }
    mapped_n = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in cosine_prefix_new_pairs(
            corpus, batch, threshold=0.9, dense_verify_cells_cap=0
        ).collect()
    }
    assert len(dense_n) > 0
    assert dense_n == mapped_n


def test_cosine_prefix_matches_python_reference_threshold_sweep(spark):
    """Bound-soundness sweep (r16 verdict directive #2): random corpus
    with stopword mass, exact dups, proportional rewrites (cosine
    exactly 1.0 — the t=1.0 boundary), and frequency shifts, against a
    brute-force all-pairs reference at thresholds including
    non-binary-representable ones (0.3/0.6) and t=1.0.  Exact float
    equality — integer dot/norms + IEEE sqrt/mul/div are bit-stable
    across engines and in CPython."""
    import itertools
    import math
    import random as _random
    from collections import Counter

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        cosine_prefix_pairs,
    )

    rng = _random.Random(17)
    vocab = [f"w{i}" for i in range(20)]
    stop = ["the", "of", "and"]
    docs = []
    for i in range(45):
        length = rng.choice([2, 4, 8, 25])
        toks = [rng.choice(vocab) for _ in range(length)] + [
            rng.choice(stop) for _ in range(rng.choice([0, length, 3 * length]))
        ]
        rng.shuffle(toks)
        docs.append((i, " ".join(toks)))
    docs.append((100, docs[2][1]))                      # exact dup
    toks7 = docs[7][1].split()
    rng.shuffle(toks7)
    docs.append((101, " ".join(toks7 * 2)))             # proportional rewrite
    docs.append((102, "the the the the"))               # pure-stopword doc

    def ref_pairs(t):
        tfs = {i: Counter(txt.split()) for i, txt in docs}
        out = {}
        for (ia, ca), (ib, cb) in itertools.combinations(tfs.items(), 2):
            dot = sum(ca[w] * cb[w] for w in ca.keys() & cb.keys())
            if dot:
                cos = dot / (
                    math.sqrt(sum(v * v for v in ca.values()))
                    * math.sqrt(sum(v * v for v in cb.values()))
                )
                if cos >= t:
                    out[(min(ia, ib), max(ia, ib))] = cos
        return out

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for t in (0.3, 0.5, 0.6, 0.8, 0.95, 1.0):
        got = {
            (r["doc_a"], r["doc_b"]): r["cosine"]
            for r in cosine_prefix_pairs(df, threshold=t).collect()
        }
        assert got == ref_pairs(t), f"threshold {t}"


def test_cosine_prefix_exact_where_capped_path_provably_differs(spark):
    """The design point (r16 verdict directive #2): on a stopword-heavy
    corpus the capped path's metric is 'cosine over non-boilerplate
    terms' — docs whose similarity lives in the stopword mass lose
    their pairs (or change values) once the cap drops those terms.
    cosine_prefix_pairs needs no cap and must return the uncapped
    ground truth."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        cosine_prefix_pairs,
        tf_cosine_pairs,
    )

    # "the of and" dominates every doc; rare tails differ.  With a cap
    # that drops the three stopwords (df = 12 > 2), the capped join
    # sees only the disjoint rare tails — zero pairs.  Uncapped, every
    # pair's cosine is driven by the shared stopword mass.
    docs = []
    for i in range(12):
        docs.append((i, "the of and " * 10 + f"rare{i}a rare{i}b"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    capped = tf_cosine_pairs(df, threshold=0.9, max_doc_freq=2).collect()
    assert capped == []  # the cap erases the evidence
    got = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in cosine_prefix_pairs(df, threshold=0.9).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in tf_cosine_pairs(df, threshold=0.9, max_doc_freq=None).collect()
    }
    assert len(got) == 66  # all C(12,2) pairs: stopword mass dominates
    assert got == want


def test_cosine_prefix_guards_and_no_cached_dataframes(spark, sf_dir):
    """Entry guards mirror the family (threshold in (0, 1]); the
    operator unpersists everything it caches."""
    import pytest as _pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        cosine_prefix_pairs,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["doc_id", "text"])
    for bad in (0.0, -0.5, 1.1):
        with _pytest.raises(ValueError, match="threshold must be in"):
            cosine_prefix_pairs(df, threshold=bad)
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    docs = load(spark, sf_dir, "documents")
    assert cosine_prefix_pairs(docs, threshold=0.9).count() > 0
    assert cm.isEmpty(), "cosine_prefix_pairs leaked a cached DataFrame"


def test_prefix_containment_matches_uncapped_inverted_index(spark, sf_dir):
    """prefix_containment_pairs is an EXACT algorithm: on the fixture
    corpus it must equal ngram_containment_pairs(max_doc_freq=None)
    bit-for-bit (pair set AND containment doubles) at the registry
    threshold."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        ngram_containment_pairs,
        prefix_containment_pairs,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in prefix_containment_pairs(docs, threshold=0.9).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in ngram_containment_pairs(
            docs, threshold=0.9, max_doc_freq=None
        ).collect()
    }
    assert len(got) > 0
    assert got == want


@pytest.mark.slow
def test_prefix_containment_matches_python_reference_threshold_sweep(spark):
    """Filter-soundness sweep for the ASYMMETRIC metric: random corpus
    with seeded excerpts (tiny docs fully embedded in big ones — the
    min-denominator case the small-role prefix must not lose), exact
    duplicates, and equal-size near-dups, against a brute-force
    all-pairs reference at thresholds including non-binary-
    representable ones (0.3/0.6) and the t=1.0 boundary."""
    import itertools
    import random as _random

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        prefix_containment_pairs,
    )

    rng = _random.Random(99)
    vocab = [f"w{i}" for i in range(14)]
    docs = []
    for i in range(40):
        length = rng.choice([1, 2, 3, 5, 8, 30, 60])
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(length))))
    # excerpts: a contiguous slice of a long doc (containment 1.0 for
    # the slice's shingles, tiny Jaccard); exact dup; equal-size pair
    long_toks = docs[5][1].split()
    if len(long_toks) >= 10:
        docs.append((100, " ".join(long_toks[2:9])))
    docs.append((101, docs[3][1]))
    docs.append((102, docs[7][1] + " zz"))

    def py_shingles(text, n=3):
        toks = text.split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for t in (0.3, 0.5, 0.6, 0.8, 0.95, 1.0):
        expected = {}
        for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
            sa, sb = py_shingles(ta), py_shingles(tb)
            inter = len(sa & sb)
            if inter:
                c = inter / min(len(sa), len(sb))
                if c >= t:
                    expected[(min(ia, ib), max(ia, ib))] = round(c, 9)
        got = {
            (r["doc_a"], r["doc_b"]): round(r["containment"], 9)
            for r in prefix_containment_pairs(df, threshold=t).collect()
        }
        assert got == expected, f"threshold {t}"


def test_prefix_containment_exact_where_capped_path_provably_differs(spark):
    """The design point (r15 verdict directive #2): an excerpt made
    ENTIRELY of boilerplate shingles is invisible to the capped path —
    ngram_containment_pairs' max_doc_freq drops the hot shingles that
    ARE the excerpt's evidence, losing the pair outright.  The prefix
    join needs no cap (the hot shingles sort to the df-ranked tail of
    the BIG docs' sets, so they enter only the tiny excerpt's prefix)
    and must return the uncapped ground truth."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        ngram_containment_pairs,
        prefix_containment_pairs,
    )

    header = "common header line shared everywhere"
    docs = [(100, header)]  # the excerpt: boilerplate only
    for i in range(10):
        body = " ".join(f"t{i}_{j}" for j in range(8))
        docs.append((i, f"{header} {body}"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in prefix_containment_pairs(df, threshold=0.9).collect()
    }
    # the excerpt is fully contained in every big doc
    for i in range(10):
        assert got.get((i, 100)) == 1.0, (i, got)
    want = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in ngram_containment_pairs(
            df, threshold=0.9, max_doc_freq=None
        ).collect()
    }
    assert got == want
    # the capped path loses every excerpt pair: all the excerpt's
    # shingles have df=11 > cap
    capped = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in ngram_containment_pairs(
            df, threshold=0.9, max_doc_freq=4
        ).collect()
    }
    assert not any((i, 100) in capped for i in range(10))
    assert capped != got


def test_prefix_containment_leaves_no_cached_dataframes(spark, sf_dir):
    """prefix_containment_pairs persists the doc-level shingle frame;
    it must unpersist before returning (result is localCheckpoint-ed)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        prefix_containment_pairs,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    docs = load(spark, sf_dir, "documents")
    assert prefix_containment_pairs(docs, threshold=0.9).count() > 0
    assert cm.isEmpty(), "prefix_containment_pairs leaked a cached DataFrame"


def test_windowed_heavy_hitters_matches_exact_groupby(spark, sf_dir):
    """windowed_heavy_hitters (per-tumbling-window MG screen + exact
    recount) must equal the plain per-window full-vocabulary groupBy
    threshold — per window, items with freq·k > N_w — on the events
    fixture (page per hour), independent of partitioning."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sketches import (
        windowed_heavy_hitters,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    ev = load(spark, sf_dir, "events")
    pages = ev.select(
        "ts", F.get_json_object("props", "$.k").alias("page")
    ).filter(F.col("page").isNotNull())
    k = 8
    assigned = pages.select(
        F.window("ts", "1 hour").start.alias("window_start"),
        F.col("page").cast("string").alias("page"),
    )
    counts = assigned.groupBy("window_start", "page").agg(
        F.count(F.lit(1)).alias("freq")
    )
    totals = assigned.groupBy("window_start").agg(F.count(F.lit(1)).alias("_n"))
    want = {
        (r["window_start"], r["page"], r["freq"])
        for r in counts.join(totals, "window_start")
        .filter(F.col("freq") * k > F.col("_n"))
        .select("window_start", "page", "freq")
        .collect()
    }
    assert len(want) > 0
    for parts in (1, 7):
        got = {
            (r["window_start"], r["page"], r["freq"])
            for r in windowed_heavy_hitters(
                pages.repartition(parts), "ts", "page", k=k, window="1 hour"
            ).collect()
        }
        assert got == want, parts


def test_windowed_heavy_hitters_per_window_majorities(spark):
    """Crafted per-window contract pin: an item can be a heavy hitter
    in one window and absent in the next; k=2 is the per-window strict
    majority; a window with no majority contributes nothing; NULL
    items/timestamps are excluded."""
    from datetime import datetime

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sketches import (
        windowed_heavy_hitters,
    )

    h0 = datetime(2024, 1, 1, 0, 30)
    h1 = datetime(2024, 1, 1, 1, 30)
    h2 = datetime(2024, 1, 1, 2, 30)
    rows = (
        [(h0, "m")] * 6 + [(h0, "x")] * 2 + [(h0, "y")] * 2   # m majority in h0
        + [(h1, "a")] * 3 + [(h1, "b")] * 3                     # no majority in h1
        + [(h2, "m")] * 1 + [(h2, "z")] * 4                     # z majority in h2
        + [(None, "m"), (h0, None)]                              # excluded
    )
    df = spark.createDataFrame(rows, "ts timestamp, item string")
    got = {
        (r["window_start"].hour, r["item"], r["freq"])
        for r in windowed_heavy_hitters(df, "ts", "item", k=2).collect()
    }
    assert got == {(0, "m", 6), (2, "z", 4)}


def test_windowed_heavy_hitters_sliding_matches_exact_groupby(spark, sf_dir):
    """slide= turns the tumbling windows into sliding ones: every
    event counts once per overlapping window, and the result must
    equal the direct per-sliding-window groupBy threshold on the
    events fixture (1-hour windows every 30 minutes)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sketches import (
        windowed_heavy_hitters,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    ev = load(spark, sf_dir, "events")
    pages = ev.select(
        "ts", F.get_json_object("props", "$.k").alias("page")
    ).filter(F.col("page").isNotNull())
    k = 8
    assigned = pages.select(
        F.window("ts", "1 hour", "30 minutes").start.alias("window_start"),
        F.col("page").cast("string").alias("page"),
    )
    counts = assigned.groupBy("window_start", "page").agg(
        F.count(F.lit(1)).alias("freq")
    )
    totals = assigned.groupBy("window_start").agg(F.count(F.lit(1)).alias("_n"))
    want = {
        (r["window_start"], r["page"], r["freq"])
        for r in counts.join(totals, "window_start")
        .filter(F.col("freq") * k > F.col("_n"))
        .select("window_start", "page", "freq")
        .collect()
    }
    assert len(want) > 0
    got = {
        (r["window_start"], r["page"], r["freq"])
        for r in windowed_heavy_hitters(
            pages, "ts", "page", k=k, window="1 hour", slide="30 minutes"
        ).collect()
    }
    assert got == want
    # a sliding window has ~2x the window starts of the tumbling one
    tumb_windows = {
        r["window_start"]
        for r in windowed_heavy_hitters(
            pages, "ts", "page", k=k, window="1 hour"
        ).collect()
    }
    assert len({w for w, _, _ in got}) > len(tumb_windows)


def test_kcore_matches_python_peeler(spark):
    """kcore vs a brute-force python peeler on random graphs, a
    clique (survives exactly at k ≤ n−1), a star (no 2-core), and a
    ring (2-core = the whole ring, 3-core empty), across several k —
    including direction/self-loop/multiplicity normalization."""
    import random as _random
    from collections import defaultdict

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.components import (
        kcore,
    )

    def py_kcore(edge_set, k):
        ed = {tuple(sorted(p)) for p in edge_set if p[0] != p[1]}
        while True:
            deg = defaultdict(int)
            for u, v in ed:
                deg[u] += 1
                deg[v] += 1
            bad = {n for n, d in deg.items() if d < k}
            if not bad:
                return {(n, d) for n, d in deg.items()}
            ed = {(u, v) for u, v in ed if u not in bad and v not in bad}

    rng = _random.Random(41)
    cases = []
    for trial in range(3):
        n = 30
        edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(rng.choice([40, 90, 200]))}
        cases.append(list(edges))
    clique = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    star = [(0, i) for i in range(1, 8)]
    ring = [(i, (i + 1) % 10) for i in range(10)]
    cases += [clique, star, ring]

    for edges in cases:
        # adversarial input: duplicates, reversed direction, self-loops
        noisy = edges + [(v, u) for u, v in edges[:5]] + [(3, 3)]
        df = spark.createDataFrame(noisy, "src long, dst long")
        for k in (1, 2, 3, 5):
            got = {tuple(r) for r in kcore(df, k).collect()}
            want = py_kcore(edges, k)
            assert got == want, (edges[:5], k)
    # contract edges
    import pytest

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="k must be"):
        kcore(df, 0)
    # clique pins: 6-clique survives whole at k=5, empty at k=6
    cdf = spark.createDataFrame(clique, "src long, dst long")
    assert kcore(cdf, 5).count() == 6
    assert kcore(cdf, 6).count() == 0
    # star: no 2-core
    sdf = spark.createDataFrame(star, "src long, dst long")
    assert kcore(sdf, 2).count() == 0


def test_kcore_path_graph_and_max_iter_contract(spark):
    """The r16 ADVICE scenario: peeling a path at k=2 removes only the
    two endpoints per round, needing ~|V|/2 rounds — the default
    max_iter now derives |V| + 1 so a legitimate deep peel converges
    (here: empty 2-core), and an explicit too-small max_iter raises
    with the pass-a-larger-max_iter guidance."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.components import (
        kcore,
    )

    path = [(i, i + 1) for i in range(24)]
    df = spark.createDataFrame(path, "src long, dst long")
    # 25 nodes, ~12 peel rounds — converges under the derived default
    assert kcore(df, 2).count() == 0
    # 1-core of a path is the path itself (every node keeps degree >= 1)
    assert kcore(df, 1).count() == 25
    with pytest.raises(RuntimeError, match="larger max_iter"):
        kcore(df, 2, max_iter=3)


def test_heavy_hitters_matches_exact_groupby(spark, sf_dir):
    """heavy_hitters is exact by construction (MG only prunes, the
    recount is exact): equal to the plain full-vocabulary groupBy
    threshold at several k on the fixture bigram stream."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sketches import (
        heavy_hitters,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.text import tokens
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    with_toks = docs.select(tokens("text").alias("_t")).filter(F.size("_t") >= 2)
    m = F.size("_t") - 1
    grams = with_toks.select(
        F.explode(
            F.zip_with(
                F.slice("_t", 1, m), F.slice("_t", 2, m),
                lambda x, y: F.concat_ws(" ", x, y),
            )
        ).alias("bigram")
    )
    n_total = grams.count()
    counts = {r["bigram"]: r["freq"] for r in
              grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("freq")).collect()}
    for k in (100, 1000, 5000):
        want = {(b, f) for b, f in counts.items() if f * k > n_total}
        got = {(r["bigram"], r["freq"])
               for r in heavy_hitters(grams, "bigram", k=k).collect()}
        assert got == want, f"k={k}"
    assert len(heavy_hitters(grams, "bigram", k=1000).collect()) > 0


def test_heavy_hitters_partitioning_invariant_under_decrements(spark):
    """The adversarial case the fixtures can't produce: vocabulary far
    above capacity k, forcing the MG decrement path in every task.
    The output must be the exact answer regardless of partitioning
    (1 task, balanced, and skewed layouts)."""
    import random as _random

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sketches import (
        heavy_hitters,
    )

    rng = _random.Random(42)
    rows = []
    rows += [("hot",)] * 3000                      # ~30% of mass
    rows += [(f"warm{i}",) for i in range(3) for _ in range(800)]  # ~8% each
    rows += [(f"cold{rng.randrange(4000)}",) for _ in range(4600)]  # long tail
    rng.shuffle(rows)
    n = len(rows)
    exact = {}
    for (w,) in rows:
        exact[w] = exact.get(w, 0) + 1
    k = 15  # threshold N/15 ≈ 667: hot (3000) and warm* (800) qualify
    want = {(w, c) for w, c in exact.items() if c * k > n}
    assert {w for w, _ in want} == {"hot", "warm0", "warm1", "warm2"}
    df = spark.createDataFrame(rows, ["item"])
    for parts in (1, 3, 17):
        got = {
            (r["item"], r["freq"])
            for r in heavy_hitters(df.repartition(parts), "item", k=k).collect()
        }
        assert got == want, f"partitions={parts}"


def test_heavy_hitters_nulls_and_nonstring_items(spark):
    """NULL items are excluded from N and candidacy; non-string item
    columns are screened via an injective string cast but recounted
    and returned in their original type."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sketches import (
        heavy_hitters,
    )

    rows = [(7,)] * 6 + [(1,), (2,), (3,)] + [(None,)] * 20
    df = spark.createDataFrame(rows, "item int")
    # N = 9 non-null rows; k=3 → threshold freq*3 > 9 → only item 7 (6*3=18)
    got = [(r["item"], r["freq"]) for r in heavy_hitters(df, "item", k=3).collect()]
    assert got == [(7, 6)]
    assert got[0][0] == 7 and isinstance(got[0][0], int)


def test_skyline_matches_bruteforce_with_ties_and_nulls(spark):
    """skyline_2d vs a quadratic python reference on a random frame
    with duplicated points (mutual ties must BOTH survive), equal
    prices at different sizes, and NULLs (excluded)."""
    import random as _random

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.skyline import (
        skyline_2d,
    )

    rng = _random.Random(5)
    rows = [(i, float(rng.randrange(20)) / 2.0, rng.randrange(12)) for i in range(300)]
    rows += [(1000, 1.5, 7), (1001, 1.5, 7)]      # exact tie pair
    rows += [(1002, None, 3), (1003, 2.0, None)]  # excluded
    pts = [(i, p, s) for i, p, s in rows if p is not None and s is not None]
    want = {
        (i, p, s)
        for i, p, s in pts
        if not any(
            op <= p and os_ >= s and (op < p or os_ > s) for _, op, os_ in pts
        )
    }
    df = spark.createDataFrame(rows, "id long, price double, size int")
    got = {
        (r["id"], r["price"], r["size"])
        for r in skyline_2d(df, "price", "size").collect()
    }
    assert got == want
    if (1000, 1.5, 7) in want:
        assert (1001, 1.5, 7) in got  # mutual ties both kept


def test_skyline_grid_choice_never_changes_results(spark, sf_dir):
    """The bucket grid is a cost knob only: the default integer floor,
    a coarse grid, and a degenerate single-bucket grid (which disables
    pruning entirely — the residual join does all the work) must
    return identical skylines on the part fixture."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.skyline import (
        skyline_2d,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    part = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")

    def key(df):
        return sorted(
            (r["p_partkey"], r["p_retailprice"], r["p_size"]) for r in df.collect()
        )

    default = key(skyline_2d(part, "p_retailprice", "p_size"))
    coarse = key(
        skyline_2d(
            part, "p_retailprice", "p_size",
            bucket=F.floor(F.col("p_retailprice") / 25),
        )
    )
    degenerate = key(
        skyline_2d(part, "p_retailprice", "p_size", bucket=F.lit(0))
    )
    assert len(default) > 0
    assert default == coarse == degenerate


def test_skyline_kd_matches_bruteforce_3d_and_4d(spark):
    """skyline_kd vs a quadratic python reference on random frames at
    d=3 and d=4 with mixed min/max directions, duplicated points
    (mutual ties must all survive), per-dim equal values, and NULLs
    (excluded) — the r15 verdict #6 'Done' fixture."""
    import random as _random

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.skyline import (
        skyline_kd,
    )

    rng = _random.Random(17)

    def brute(pts, dirs):
        def dom(y, x):
            be = all(
                (yv <= xv if d == "min" else yv >= xv)
                for yv, xv, d in zip(y, x, dirs)
            )
            st = any(
                (yv < xv if d == "min" else yv > xv)
                for yv, xv, d in zip(y, x, dirs)
            )
            return be and st

        return {
            (i, *v) for i, v in pts if not any(dom(w, v) for _, w in pts)
        }

    # d=3: min price, max size, max rating
    rows3 = [
        (i, float(rng.randrange(16)) / 2.0, rng.randrange(10), rng.randrange(8))
        for i in range(250)
    ]
    rows3 += [(900, 0.5, 9, 7), (901, 0.5, 9, 7)]      # exact tie pair
    rows3 += [(902, None, 5, 5), (903, 1.0, None, 5)]  # excluded
    pts3 = [(i, (p, s, q)) for i, p, s, q in rows3 if None not in (p, s, q)]
    dirs3 = ("min", "max", "max")
    want3 = brute(pts3, dirs3)
    df3 = spark.createDataFrame(rows3, "id long, price double, size int, rating int")
    got3 = {
        (r["id"], r["price"], r["size"], r["rating"])
        for r in skyline_kd(
            df3, [("price", "min"), ("size", "max"), ("rating", "max")]
        ).collect()
    }
    assert got3 == want3
    if (900, 0.5, 9, 7) in want3:
        assert (901, 0.5, 9, 7) in got3

    # d=4 with all-min orientation and negatives
    rows4 = [
        (
            i,
            rng.randrange(-5, 6),
            float(rng.randrange(12)) / 4.0,
            rng.randrange(6),
            rng.randrange(4),
        )
        for i in range(200)
    ]
    pts4 = [(i, (a, b, c, e)) for i, a, b, c, e in rows4]
    dirs4 = ("min", "min", "min", "min")
    want4 = brute(pts4, dirs4)
    df4 = spark.createDataFrame(rows4, "id long, a int, b double, c int, e int")
    got4 = {
        tuple(r)
        for r in skyline_kd(
            df4, [("a", "min"), ("b", "min"), ("c", "min"), ("e", "min")]
        ).collect()
    }
    assert got4 == want4


def test_skyline_kd_reduces_to_2d_and_grid_invariance(spark, sf_dir):
    """At d=2 skyline_kd must equal skyline_2d on the part fixture, and
    its grid is a cost knob only: custom coarse buckets and the
    degenerate single-cell grid (pruning disabled, residual join does
    all the work) return identical skylines."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.skyline import (
        skyline_2d,
        skyline_kd,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    part = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")

    def key(df):
        return sorted(
            (r["p_partkey"], r["p_retailprice"], r["p_size"]) for r in df.collect()
        )

    crit = [("p_retailprice", "min"), ("p_size", "max")]
    want = key(skyline_2d(part, "p_retailprice", "p_size"))
    assert len(want) > 0
    assert key(skyline_kd(part, crit)) == want
    coarse = key(
        skyline_kd(
            part, crit,
            buckets=[F.floor(F.col("p_retailprice") / 25), -F.col("p_size")],
        )
    )
    degenerate = key(skyline_kd(part, crit, buckets=[F.lit(0), F.lit(0)]))
    assert coarse == want and degenerate == want


def test_skyline_kd_validates_inputs(spark):
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.skyline import (
        skyline_kd,
    )

    df = spark.createDataFrame([(1, 2)], "a int, b int")
    with pytest.raises(ValueError, match=">= 2 criteria"):
        skyline_kd(df, [("a", "min")])
    with pytest.raises(ValueError, match="direction"):
        skyline_kd(df, [("a", "min"), ("b", "upp")])
    with pytest.raises(ValueError, match="buckets"):
        skyline_kd(df, [("a", "min"), ("b", "max")], buckets=[F.lit(0)])


def test_triangle_stats_matches_bruteforce(spark):
    """triangle_stats vs an itertools reference on random graphs with
    self-loops, duplicate and reversed edges (all normalized away)."""
    import itertools
    import random as _random

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.components import (
        triangle_stats,
    )

    rng = _random.Random(11)
    for trial, (n_nodes, n_edges) in enumerate([(12, 40), (25, 90), (8, 60)]):
        raw = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        raw += [(3, 3), (raw[0][1], raw[0][0])]  # self-loop + reversed dup
        und = {(min(a, b), max(a, b)) for a, b in raw if a != b}
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        tris = sum(
            1
            for x, y, z in itertools.combinations(sorted(adj), 3)
            if y in adj[x] and z in adj[x] and z in adj[y]
        )
        wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
        want_cc = 3.0 * tris / wedges if wedges else 0.0
        df = spark.createDataFrame(raw, ["src", "dst"])
        row = triangle_stats(df).collect()[0]
        assert (row["n_triangles"], row["n_wedges"]) == (tris, wedges), trial
        assert abs(row["global_clustering"] - want_cc) < 1e-12, trial


def test_triangle_stats_star_graph_has_wedges_no_triangles(spark):
    """The hub shape the degree-ordered orientation exists for: a star
    (one hub, many leaves) has C(n,2) wedges and zero triangles, and
    every oriented edge points leaf→hub so no out-neighborhood exceeds
    size 1."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.components import (
        triangle_stats,
    )

    df = spark.createDataFrame([(0, i) for i in range(1, 41)], ["src", "dst"])
    row = triangle_stats(df).collect()[0]
    assert row["n_triangles"] == 0
    assert row["n_wedges"] == 40 * 39 // 2
    assert row["global_clustering"] == 0.0


def test_triangle_stats_leaves_no_cached_dataframes(spark):
    """triangle_stats persists the canonical-edge and oriented frames;
    both must be unpersisted before returning (result is eagerly
    localCheckpoint-ed, so the caches are never needed again)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.components import (
        triangle_stats,
    )

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    df = spark.createDataFrame(
        [(i, (i * 7 + 1) % 30) for i in range(60)], ["src", "dst"]
    )
    assert triangle_stats(df).count() == 1
    assert cm.isEmpty(), "triangle_stats leaked a cached DataFrame"


def test_scd2_from_changelog_matches_python_reference(spark):
    """SCD2 build vs a pure-python reference: no-op repeats collapsed,
    NULL attr transitions handled null-safely (NULL→NULL is a no-op;
    NULL→v and v→NULL are changes), same-instant ties ordered by the
    tiebreak column."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.scd import (
        scd2_from_changelog,
    )

    log = [
        # (key, ts, seq, status)
        (1, 10, 0, "a"),
        (1, 20, 0, "a"),      # no-op
        (1, 30, 0, None),     # change to NULL
        (1, 40, 0, None),     # NULL no-op
        (1, 50, 0, "b"),      # change from NULL
        (2, 10, 0, "x"),
        (2, 10, 1, "y"),      # same-instant tie: seq orders it after x
        (2, 60, 0, "y"),      # no-op vs the tie winner
        (3, 5, 0, "solo"),
    ]
    rows = {}
    for k, ts, seq, s in sorted(log, key=lambda r: (r[0], r[1], r[2])):
        rows.setdefault(k, [])
        if not rows[k] or rows[k][-1][1] != s:
            rows[k].append([ts, s])
    want = set()
    for k, runs in rows.items():
        for i, (ts, s) in enumerate(runs):
            nxt = runs[i + 1][0] if i + 1 < len(runs) else None
            want.add((k, s, ts, nxt))
    df = spark.createDataFrame(log, "k long, ts long, seq int, status string")
    got = {
        (r["k"], r["status"], r["valid_from"], r["valid_to"])
        for r in scd2_from_changelog(
            df, "k", "ts", ["status"], tiebreak_cols=["seq"]
        ).collect()
    }
    assert got == want
    # the tie at (2, ts=10): both entries survive (x→y is a change),
    # x gets the empty [10, 10) interval, y runs to 2's next change
    assert (2, "x", 10, 10) in got
    assert (2, "y", 10, None) in got


def test_scd2_asof_compose_matches_direct_window_asof(spark, sf_dir):
    """The point of the dimension: joining purchases against the
    user_page_scd2 intervals must give exactly the page the direct
    last-value window as-of computes at each purchase timestamp."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.scd import (
        asof_join_scd2,
        scd2_from_changelog,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    ev = load(spark, sf_dir, "events")
    pg = ev.select(
        "user_id", "ts", "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("page"),
    ).filter(F.col("page").isNotNull())
    dim = scd2_from_changelog(pg, "user_id", "ts", ["page"], tiebreak_cols=["event_id"])
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    joined = asof_join_scd2(
        purchases, dim.withColumnRenamed("user_id", "p_user"), "p_user", "p_ts"
    )
    got = {(r["event_id"], r["page"]) for r in joined.collect()}
    # direct as-of: page of the latest page-event at or before the purchase
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "order_rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = pg.select(
        "user_id", "ts", F.lit(0).alias("order_rank"), F.lit(None).alias("event_id"), "page"
    ).unionByName(
        ev.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.lit(1).alias("order_rank"), "event_id",
            F.lit(None).cast("int").alias("page"),
        )
    )
    direct = (
        merged.withColumn("asof_page", F.last("page", ignorenulls=True).over(w))
        .filter(F.col("event_id").isNotNull() & F.col("asof_page").isNotNull())
        .select("event_id", "asof_page")
    )
    want = {(r["event_id"], r["asof_page"]) for r in direct.collect()}
    assert len(got) > 0
    assert got == want


@pytest.mark.slow
def test_scd2_apply_sequential_batches_equal_full_rebuild(spark):
    """The r15 verdict #3 contract: applying changelog batches
    incrementally (scd2_apply) must be BIT-EQUAL to rebuilding from
    the concatenated log (scd2_from_changelog), including same-instant
    tiebreaks within a batch, a batch entry at exactly the open
    version's boundary instant, no-op collapse ACROSS the batch
    boundary, brand-new keys, and untouched keys."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.scd import (
        scd2_apply,
        scd2_from_changelog,
    )

    # (k, ts, seq, status) — seq strictly monotone across batches
    batch1 = [
        (1, 10, 1, "a"), (1, 20, 2, "b"),
        (2, 10, 3, "x"), (2, 10, 4, "y"),   # same-instant tie in-batch
        (3, 5, 5, "m"),
        (4, 7, 6, "q"),                       # untouched by later batches
    ]
    batch2 = [
        (1, 20, 7, "c"),                      # boundary instant: k1 open is [20, _)
        (2, 30, 8, "y"),                      # no-op across boundary (y == open y)
        (3, 9, 9, "m"), (3, 12, 10, "n"),    # no-op then change
        (5, 11, 11, "new"),                   # brand-new key
    ]
    batch3 = [
        (5, 11, 12, "newer"),                 # boundary tie on the new key
        (2, 31, 13, "z"),
    ]
    schema = "k long, ts long, seq long, status string"
    full = spark.createDataFrame(batch1 + batch2 + batch3, schema)
    want = {
        tuple(r)
        for r in scd2_from_changelog(
            full, "k", "ts", ["status"], tiebreak_cols=["seq"]
        ).collect()
    }
    dim = scd2_from_changelog(
        spark.createDataFrame(batch1, schema), "k", "ts", ["status"],
        tiebreak_cols=["seq"],
    )
    for b in (batch2, batch3):
        dim = scd2_apply(
            dim, spark.createDataFrame(b, schema), "k", "ts", ["status"],
            tiebreak_cols=["seq"],
        )
    got = {tuple(r) for r in dim.collect()}
    assert got == want
    # the boundary-instant entries really produced empty intervals
    assert (1, "b", 20, 20) in got and (1, "c", 20, None) in got
    assert (5, "new", 11, 11) in got and (5, "newer", 11, None) in got
    # the cross-boundary no-ops really collapsed
    assert (2, "y", 10, 31) in got and not any(
        r[0] == 2 and r[2] == 30 for r in got
    )
    assert (3, "m", 5, 12) in got and not any(
        r[0] == 3 and r[2] == 9 for r in got
    )


def test_scd2_apply_touched_only_is_full_result_on_batch_keys(spark):
    """touched_only=True (the partition-overwrite shape, r16 verdict
    #6) returns exactly the full apply's rows for keys in the batch —
    closed history verbatim plus the re-derived tail — and nothing
    else."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.scd import (
        scd2_apply,
        scd2_from_changelog,
    )

    schema = "k long, ts long, seq long, status string"
    seed = [
        (1, 10, 1, "a"), (1, 20, 2, "b"),   # key 1: closed + open history
        (2, 10, 3, "x"),                     # key 2: untouched by the batch
    ]
    dim = scd2_from_changelog(
        spark.createDataFrame(seed, schema), "k", "ts", ["status"],
        tiebreak_cols=["seq"],
    )
    batch = spark.createDataFrame([(1, 30, 4, "c"), (3, 5, 5, "m")], schema)
    args = ("k", "ts", ["status"])
    full = {
        tuple(r)
        for r in scd2_apply(dim, batch, *args, tiebreak_cols=["seq"]).collect()
    }
    touched = {
        tuple(r)
        for r in scd2_apply(
            dim, batch, *args, tiebreak_cols=["seq"], touched_only=True
        ).collect()
    }
    batch_keys = {1, 3}
    assert touched == {r for r in full if r[0] in batch_keys}
    assert (1, "a", 10, 20) in touched      # closed history passes through
    assert (1, "b", 20, 30) in touched and (1, "c", 30, None) in touched
    assert (3, "m", 5, None) in touched     # brand-new key
    assert not any(r[0] == 2 for r in touched)  # untouched key omitted


def test_scd2_apply_fixture_scale_equals_full_rebuild(spark, sf_dir):
    """Volume pin on the events fixture: split the user→page changelog
    at the 80th time percentile into history + increment, build the
    dimension from history, apply the increment — bit-equal to the
    full-log rebuild (event_id is globally unique, so the monotone-
    tiebreak precondition holds within each instant)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.scd import (
        scd2_apply,
        scd2_from_changelog,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    ev = load(spark, sf_dir, "events")
    pg = ev.select(
        "user_id", "ts", "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("page"),
    ).filter(F.col("page").isNotNull())
    cut = pg.selectExpr(
        "timestamp_micros(cast(percentile(unix_micros(ts), 0.8) as long)) as c"
    ).first()["c"]
    hist = pg.filter(F.col("ts") <= F.lit(cut))
    inc = pg.filter(F.col("ts") > F.lit(cut))
    assert inc.count() > 0
    want = {
        tuple(r)
        for r in scd2_from_changelog(
            pg, "user_id", "ts", ["page"], tiebreak_cols=["event_id"]
        ).collect()
    }
    dim = scd2_from_changelog(
        hist, "user_id", "ts", ["page"], tiebreak_cols=["event_id"]
    )
    got = {
        tuple(r)
        for r in scd2_apply(
            dim, inc, "user_id", "ts", ["page"], tiebreak_cols=["event_id"]
        ).collect()
    }
    assert got == want


def test_scd2_apply_rejects_out_of_order_batch(spark):
    """An entry OLDER than its key's open version cannot be applied
    incrementally (closed history would need rewriting) — must raise,
    pointing at the full rebuild."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.scd import (
        scd2_apply,
        scd2_from_changelog,
    )

    schema = "k long, ts long, seq long, status string"
    dim = scd2_from_changelog(
        spark.createDataFrame([(1, 10, 1, "a"), (1, 20, 2, "b")], schema),
        "k", "ts", ["status"], tiebreak_cols=["seq"],
    )
    late = spark.createDataFrame([(1, 15, 3, "c")], schema)
    with pytest.raises(ValueError, match="scd2_apply"):
        scd2_apply(dim, late, "k", "ts", ["status"], tiebreak_cols=["seq"])


def test_scd2_apply_rejects_all_closed_key(spark):
    """r16 ADVICE: a batch key present in the dim with NO open version
    (possible only in hand-maintained dims — scd2_from_changelog always
    leaves one open row per key) skipped validation entirely and could
    append versions overlapping the key's closed history; it must raise
    toward the full rebuild.  An untouched all-closed key elsewhere in
    the dim stays fine."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.scd import (
        scd2_apply,
    )

    # hand-maintained dimension: key 1 is all-closed, key 2 has an open row
    dim = spark.createDataFrame(
        [(1, "a", 10, 20), (2, "x", 10, None)],
        "k long, status string, valid_from long, valid_to long",
    )
    schema = "k long, ts long, seq long, status string"
    batch_bad = spark.createDataFrame([(1, 5, 1, "c")], schema)
    with pytest.raises(ValueError, match="no open version"):
        scd2_apply(dim, batch_bad, "k", "ts", ["status"], tiebreak_cols=["seq"])
    # the same dim accepts a batch touching only the open-versioned key
    batch_ok = spark.createDataFrame([(2, 30, 2, "y")], schema)
    out = {
        tuple(r)
        for r in scd2_apply(
            dim, batch_ok, "k", "ts", ["status"], tiebreak_cols=["seq"]
        )
        .select("k", "status", "valid_from", "valid_to")
        .collect()
    }
    assert (1, "a", 10, 20) in out          # closed history untouched
    assert (2, "x", 10, 30) in out and (2, "y", 30, None) in out


def test_scd2_apply_table_staged_swap_and_replay(spark, tmp_path):
    """The written-dimension verb: applies under the staged-swap crash
    discipline (heals a crash-between-renames state on entry), and
    REPLAYING the same batch is a no-op (idempotent apply — the
    run-to-completion-or-re-run contract the index appends follow)."""
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.scd import (
        scd2_apply_table,
        scd2_from_changelog,
    )

    schema = "k long, ts long, seq long, status string"
    path = str(tmp_path / "dim")
    scd2_from_changelog(
        spark.createDataFrame([(1, 10, 1, "a"), (2, 10, 2, "x")], schema),
        "k", "ts", ["status"], tiebreak_cols=["seq"],
    ).write.parquet(path)
    batch = spark.createDataFrame([(1, 20, 3, "b"), (3, 5, 4, "m")], schema)
    scd2_apply_table(spark, path, batch, "k", "ts", ["status"], ["seq"])
    after = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert (1, "a", 10, 20) in after and (1, "b", 20, None) in after
    assert (3, "m", 5, None) in after
    # replay: same batch again — a no-op (entries collapse against the
    # versions they created)
    scd2_apply_table(spark, path, batch, "k", "ts", ["status"], ["seq"])
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == after
    # crash simulation: data stranded at <path>.compact_old, path gone —
    # the next apply heals first, then applies
    os.rename(path, path + ".compact_old")
    batch2 = spark.createDataFrame([(2, 30, 5, "y")], schema)
    scd2_apply_table(spark, path, batch2, "k", "ts", ["status"], ["seq"])
    healed = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert (2, "x", 10, 30) in healed and (2, "y", 30, None) in healed
    assert after - {(2, "x", 10, None)} <= healed


def test_scd2_asof_rejects_lossy_join_sides(spark):
    """asof_join_scd2 drops dim's key column, so right/full joins would
    strip dim-only rows of their only non-null key — they must raise;
    left and semi/anti stay accepted."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.scd import (
        asof_join_scd2,
    )

    facts = spark.createDataFrame([(1, 10)], "k long, ts long")
    dim = spark.createDataFrame(
        [(1, "a", 0, None)], "k long, v string, valid_from long, valid_to long"
    )
    for bad in ("right", "full", "outer", "full_outer", "cross"):
        with pytest.raises(ValueError, match="asof_join_scd2"):
            asof_join_scd2(facts, dim, "k", "ts", how=bad)
    assert asof_join_scd2(facts, dim, "k", "ts", how="left").count() == 1
    assert asof_join_scd2(facts, dim, "k", "ts", how="left_semi").count() == 1


def test_heavy_hitters_k2_majority_element(spark):
    """k=2 is the strict-majority case (freq·2 > N, the Boyer–Moore
    guarantee): the majority item must be returned when one exists,
    regardless of partitioning, and nothing otherwise.  k=1 is
    vacuously empty (freq > N is impossible) — pinned so the contract
    threshold can never drift to >=."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sketches import (
        heavy_hitters,
    )

    maj = [("m",)] * 60 + [(f"x{i}",) for i in range(59)]
    df = spark.createDataFrame(maj, ["item"])
    for parts in (1, 5):
        got = [
            (r["item"], r["freq"])
            for r in heavy_hitters(df.repartition(parts), "item", k=2).collect()
        ]
        assert got == [("m", 60)], parts
    nomaj = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, ["item"])
    assert heavy_hitters(nomaj, "item", k=2).collect() == []  # 50*2 == 100, not >
    assert heavy_hitters(df, "item", k=1).collect() == []


def test_skyline_negative_and_decimal_values(spark):
    """skyline_2d on negative doubles (floor grid spans negative
    buckets) and on an exact DECIMAL column — pure comparisons, so
    both must match the brute force exactly."""
    from decimal import Decimal

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.skyline import (
        skyline_2d,
    )

    pts = [(0, -3.7, 2), (1, -3.7, 5), (2, -0.1, 9), (3, 1.2, 9), (4, -9.9, 1)]
    want = {
        (i, p, s)
        for i, p, s in pts
        if not any(op <= p and os_ >= s and (op < p or os_ > s) for _, op, os_ in pts)
    }
    df = spark.createDataFrame(pts, "id long, price double, size int")
    got = {(r["id"], r["price"], r["size"]) for r in skyline_2d(df, "price", "size").collect()}
    assert got == want
    dec = [(i, Decimal(str(p)), s) for i, p, s in pts]
    ddf = spark.createDataFrame(dec, "id long, price decimal(10,2), size int")
    got_dec = {r["id"] for r in skyline_2d(ddf, "price", "size").collect()}
    assert got_dec == {i for i, _, _ in want}


def test_prefix_jaccard_all_identical_docs(spark):
    """Degenerate corpus: every doc byte-identical — every pair is a
    J=1.0 near-dup and the prefix join must return all C(n,2) pairs
    (ties in the df order must not lose any)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(8)],
        ["doc_id", "text"],
    )
    got = prefix_jaccard_pairs(df, threshold=0.9).collect()
    assert len(got) == 8 * 7 // 2
    assert all(r["jaccard"] == 1.0 for r in got)


def test_forget_ids_cascade_across_indexes_and_dataset(spark, sf_dir, tmp_path):
    """The right-to-be-forgotten capstone: one forget_ids call erases
    the same ids from a BM25 index, an IVF index, AND a corpus parquet
    dataset.  Probes afterwards equal fresh rebuilds over the
    survivors, the dataset rows are gone, re-running the cascade is a
    no-op (the run-to-completion-or-re-run contract), and a typo'd
    index path raises instead of reading as forgotten."""
    import os

    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.maintenance import (
        forget_ids,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.retrieval import (
        bm25_topk_indexed,
        write_bm25_index,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.similarity import (
        ivf_topk_indexed,
        write_ivf_index,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    embs = load(spark, sf_dir, "embeddings")
    bm25 = str(tmp_path / "bm25")
    ivf = str(tmp_path / "ivf")
    corpus = str(tmp_path / "corpus.parquet")
    write_bm25_index(docs, bm25, n_buckets=16)
    write_ivf_index(embs, ivf, n_clusters=6, iterations=2)
    docs.write.parquet(corpus)

    victims = [int(r["doc_id"]) for r in docs.filter(F.col("doc_id") % 9 == 3).collect()][:20]
    report = forget_ids(
        spark,
        victims,
        index_roots=[bm25, ivf],
        datasets=[(corpus, "doc_id")],
    )
    assert report[("index", bm25)]["kind"] == "bm25"
    assert report[("index", bm25)]["docs_deleted"] > 0
    assert report[("index", ivf)]["kind"] == "ivf"
    assert report[("dataset", corpus)]["rows_removed"] == len(victims)

    # dataset: victims gone, everything else intact
    left = spark.read.parquet(corpus)
    assert left.filter(F.col("doc_id").isin(victims)).count() == 0
    assert left.count() == docs.count() - len(victims)

    # serving stores equal rebuilds over the survivors
    surv_docs = docs.filter(~F.col("doc_id").isin(victims))
    surv_embs = embs.filter(~F.col("vec_id").isin(victims))
    bm25_ref = str(tmp_path / "bm25_ref")
    ivf_ref = str(tmp_path / "ivf_ref")
    write_bm25_index(surv_docs, bm25_ref, n_buckets=16)
    write_ivf_index(surv_embs, ivf_ref, n_clusters=6, iterations=2)
    terms = ["spark", "stream", "hash", "dup"]
    assert [tuple(r) for r in bm25_topk_indexed(spark, bm25, terms, k=10).collect()] == [
        tuple(r) for r in bm25_topk_indexed(spark, bm25_ref, terms, k=10).collect()
    ]
    qv = [float(x) for x in embs.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = [r["vec_id"] for r in ivf_topk_indexed(spark, ivf, qv, k=10, nprobe=6).collect()]
    assert not set(got) & set(victims)
    # exhaustive-nprobe equality vs the survivor rebuild would need the
    # same trained centroids; membership + the per-verb rebuild pins
    # (test_vector_index_deletes_match_rebuilds_over_survivors) cover
    # the geometry — here the cascade contract is what's under test

    # idempotent re-run: every target reports zero work
    report2 = forget_ids(
        spark, victims, index_roots=[bm25, ivf], datasets=[(corpus, "doc_id")]
    )
    assert report2[("index", bm25)]["docs_deleted"] == 0
    assert report2[("dataset", corpus)]["rows_removed"] == 0

    with pytest.raises(ValueError, match="no recognized written-index layout"):
        forget_ids(spark, victims, index_roots=[str(tmp_path / "nope")])

    # duplicate targets raise instead of overwriting report evidence —
    # validated UP FRONT, so nothing is erased before the failure
    fresh = [int(r["doc_id"]) for r in spark.read.parquet(corpus).limit(3).collect()]
    with pytest.raises(ValueError, match="listed twice"):
        forget_ids(spark, fresh, index_roots=[bm25, bm25])
    with pytest.raises(ValueError, match="listed twice"):
        forget_ids(
            spark, fresh,
            index_roots=[ivf],
            datasets=[(corpus, "doc_id"), (corpus, "doc_id")],
        )
    assert (
        spark.read.parquet(corpus).filter(F.col("doc_id").isin(fresh)).count()
        == len(fresh)
    ), "duplicate-target validation must fire before any erasure"


def test_containment_finds_excerpts_jaccard_misses(spark):
    """The containment metric's reason to exist: a short doc fully
    embedded in a long one has containment 1.0 but tiny Jaccard.  The
    pair must appear in ngram_containment_pairs and NOT in
    ngram_jaccard_pairs at any useful threshold; values match a
    python reference exactly."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    long_body = " ".join(f"w{i}" for i in range(300))
    excerpt = " ".join(f"w{i}" for i in range(40, 60))  # 20 tokens inside
    docs = [
        (0, long_body),
        (1, excerpt),
        (2, " ".join(f"z{i}" for i in range(50))),  # unrelated
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in ngram_containment_pairs(df, threshold=0.9).collect()
    }
    # excerpt: 18 shingles, all present among the long doc's 298
    assert cont == {(0, 1): 1.0}
    jac = ngram_jaccard_pairs(df, threshold=0.2).collect()
    assert jac == []  # J = 18/298 ≈ 0.06 — invisible to Jaccard


def test_containment_matches_python_reference(spark, sf_dir):
    """Differential on the fixture corpus (capped index, registry
    threshold): exact containment values against a python reference
    over the same shingle sets."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        ngram_containment_pairs,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.plans.llmdata import (
        MAX_SHINGLE_DOC_FREQ,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]

    def sh(text, n=3):
        toks = text.split()
        if len(toks) < n:
            return frozenset({" ".join(toks)})
        return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))

    sets = {i: sh(t) for i, t in rows}
    from collections import Counter

    dfreq = Counter(s for ss in sets.values() for s in ss)
    hot = {s for s, c in dfreq.items() if c > MAX_SHINGLE_DOC_FREQ}
    sets = {i: ss - hot for i, ss in sets.items()}
    import itertools

    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter and min(len(sets[a]), len(sets[b])) > 0:
            c = inter / min(len(sets[a]), len(sets[b]))
            if c >= 0.9:
                want[(a, b)] = round(c, 9)
    got = {
        (r["doc_a"], r["doc_b"]): round(r["containment"], 9)
        for r in ngram_containment_pairs(
            docs, threshold=0.9, max_doc_freq=MAX_SHINGLE_DOC_FREQ
        ).collect()
    }
    assert len(got) > 0
    assert got == want


def test_merge_intervals_matches_python_reference(spark):
    """Gaps-and-islands vs a brute-force python merger on random
    interval sets — overlapping, touching (inclusive bounds: [1,5] and
    [5,9] merge), nested, disjoint, duplicate, and NULL rows — plus
    the per-island n_intervals counts."""
    import random as _random

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.intervals import (
        merge_intervals,
    )

    def py_merge(rows):
        by_key = {}
        for k, s, e in rows:
            if s is None or e is None:
                continue
            by_key.setdefault(k, []).append((s, e))
        out = set()
        for k, ivs in by_key.items():
            ivs.sort()
            cur_s, cur_e, n = ivs[0][0], ivs[0][1], 1
            for s, e in ivs[1:]:
                if s <= cur_e:          # overlap or touch merges
                    cur_e = max(cur_e, e)
                    n += 1
                else:
                    out.add((k, cur_s, cur_e, n))
                    cur_s, cur_e, n = s, e, 1
            out.add((k, cur_s, cur_e, n))
        return out

    rng = _random.Random(31)
    rows = []
    for k in range(6):
        for _ in range(rng.choice([1, 5, 30])):
            s = rng.randrange(100)
            rows.append((k, s, s + rng.choice([0, 1, 3, 20])))
    rows += [(0, 1, 5), (0, 5, 9), (1, 1, 5), (1, 6, 9)]  # touch vs gap
    rows += [(2, 10, 40), (2, 15, 20)]                      # nested
    rows += [(3, None, 5), (3, 7, None)]                    # NULL rows drop
    df = spark.createDataFrame(rows, "k long, s long, e long")
    got = {tuple(r) for r in merge_intervals(df, "k", "s", "e").collect()}
    assert got == py_merge(rows)


def test_merge_intervals_inverted_raises_and_coverage(spark):
    """An inverted interval (end < start) raises — it is always a data
    bug; interval_coverage sums the DEFAULT numeric length and a
    caller-supplied inclusive-date length correctly (the overlap that
    a raw per-row sum double-counts is gone)."""
    import datetime as _dt

    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.intervals import (
        interval_coverage,
        merge_intervals,
    )

    bad = spark.createDataFrame([(1, 5, 3)], "k long, s long, e long")
    with pytest.raises(Exception, match="inverted interval"):
        merge_intervals(bad, "k", "s", "e").collect()

    df = spark.createDataFrame(
        [(1, 0, 10), (1, 5, 20), (1, 30, 31), (2, 0, 0)],
        "k long, s long, e long",
    )
    got = {
        (r["k"], r["n_islands"], r["covered"])
        for r in interval_coverage(df, "k", "s", "e").collect()
    }
    # key 1: [0,20] + [30,31] -> lengths 20 + 1; key 2: [0,0] -> 0
    assert got == {(1, 2, 21), (2, 1, 0)}

    d = _dt.date
    ddf = spark.createDataFrame(
        [(1, d(2024, 1, 1), d(2024, 1, 5)), (1, d(2024, 1, 5), d(2024, 1, 8))],
        "k long, s date, e date",
    )
    cov = interval_coverage(
        ddf, "k", "s", "e",
        length=(F.datediff("island_end", "island_start") + 1).cast("long"),
    ).collect()
    assert [(r["k"], r["n_islands"], r["covered"]) for r in cov] == [(1, 1, 8)]


def test_last_touch_attribution_semantics(spark):
    """The attribution contract: strictly-before resolution of
    same-instant rows via the tiebreak order, lookback expiry lands in
    the NULL unattributed bucket, self-touching conversions credit the
    PREVIOUS touch, entities never cross."""
    import datetime as _dt

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.attribution import (
        last_touch_attribution,
    )

    t0 = _dt.datetime(2024, 1, 1, 12, 0, 0)

    def at(minutes):
        return t0 + _dt.timedelta(minutes=minutes)

    rows = [
        # user 1: view p10, purchase 5 min later -> attributed 10
        (1, at(0), 1, "view", 10),
        (1, at(5), 2, "purchase", None),
        # user 1: stale view p11 at +10, purchase at +50 -> outside
        # 30-min lookback -> NULL
        (1, at(10), 3, "view", 11),
        (1, at(50), 4, "purchase", None),
        # user 2: view p20 and purchase at the SAME instant — the
        # tiebreak (event_id) orders the view first, so it wins
        (2, at(0), 5, "view", 20),
        (2, at(0), 6, "purchase", None),
        # user 2: purchase BEFORE any view at the same instant by
        # tiebreak -> NULL (strictly-before semantics)
        (2, at(60), 7, "purchase", None),
        (2, at(60), 8, "view", 21),
        # user 3: no views at all -> NULL
        (3, at(0), 9, "purchase", None),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string, page long"
    )
    out = {
        r["event_id"]: (r["attributed_page"], r["attributed_ts"])
        for r in last_touch_attribution(
            df,
            "user_id",
            "ts",
            touch_filter=F.col("event_type") == "view",
            touch_col="page",
            conversion_filter=F.col("event_type") == "purchase",
            lookback="30 minutes",
            tiebreak_cols=["event_id"],
        ).collect()
    }
    assert out[2] == (10, at(0))
    assert out[4] == (None, None)       # lookback expired
    assert out[6] == (20, at(0))        # same instant, tiebreak view first
    assert out[7] == (None, None)       # view is after by tiebreak
    assert out[9] == (None, None)       # never touched
    # boundary: touch exactly AT conv_ts - lookback still counts (>=)
    rows2 = [(9, at(0), 1, "view", 1), (9, at(30), 2, "purchase", None)]
    df2 = spark.createDataFrame(
        rows2, "user_id long, ts timestamp, event_id long, event_type string, page long"
    )
    out2 = last_touch_attribution(
        df2, "user_id", "ts",
        touch_filter=F.col("event_type") == "view",
        touch_col="page",
        conversion_filter=F.col("event_type") == "purchase",
        lookback="30 minutes",
        tiebreak_cols=["event_id"],
    ).collect()
    assert out2[0]["attributed_page"] == 1


def test_match_sequence_semantics_and_guards(spark):
    """The sequence-pattern contract: greedy earliest completion,
    strictly-after chaining (same-instant events don't chain), horizon
    from step 1 bounds every later step, NULL from the first unmatched
    step onward, a NULL-ts event takes no step, entities isolated;
    duplicate step names and empty step lists raise."""
    import datetime as _dt

    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sequence import (
        match_sequence,
    )

    t0 = _dt.datetime(2024, 1, 1)

    def at(m):
        return t0 + _dt.timedelta(minutes=m)

    rows = [
        # user 1: full match; the LATER view at +5 must not shift t_view
        (1, at(0), "a"), (1, at(5), "a"), (1, at(10), "b"), (1, at(20), "c"),
        # user 2: b at the SAME instant as a -> does not chain; later b ok
        (2, at(0), "a"), (2, at(0), "b"), (2, at(30), "b"),
        # user 3: c arrives OUTSIDE the 60-min horizon from a
        (3, at(0), "a"), (3, at(10), "b"), (3, at(70), "c"),
        # user 4: never does a -> no row at all
        (4, at(0), "b"), (4, at(1), "c"),
        # user 5: its only a lacks a timestamp -> no row either
        (5, None, "a"), (5, at(3), "b"),
        # user 6: a NULL-ts b takes no step; the timed b does
        (6, at(0), "a"), (6, None, "b"), (6, at(9), "b"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, et string")
    steps = [(n, F.col("et") == n) for n in ("a", "b", "c")]
    got = {
        r["user_id"]: (r["t_a"], r["t_b"], r["t_c"])
        for r in match_sequence(df, "user_id", "ts", steps, within="60 minutes").collect()
    }
    assert got[1] == (at(0), at(10), at(20))
    assert got[2] == (at(0), at(30), None)
    assert got[3] == (at(0), at(10), None)   # horizon expired for c
    assert 4 not in got and 5 not in got
    assert got[6] == (at(0), at(9), None)
    # without a horizon user 3 completes
    got_free = {
        r["user_id"]: r["t_c"]
        for r in match_sequence(df, "user_id", "ts", steps).collect()
    }
    assert got_free[3] == at(70)
    with pytest.raises(ValueError, match="duplicate step names"):
        match_sequence(df, "user_id", "ts", [("a", F.lit(True)), ("a", F.lit(True))])
    with pytest.raises(ValueError, match="at least one step"):
        match_sequence(df, "user_id", "ts", [])


def test_match_sequence_consistent_with_conversion_funnel(spark, sf_dir):
    """Cross-pin against the reference-parity funnel: without a
    horizon, the per-step non-NULL counts of match_sequence equal
    conversion_funnel's summary numbers on the fixture (same
    greedy-earliest nested-min semantics, two implementations)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sequence import (
        match_sequence,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.plans.funnel import (
        conversion_funnel,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    ev = load(spark, sf_dir, "events")
    m = match_sequence(
        ev,
        "user_id",
        "ts",
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
    )
    counts = m.agg(
        F.count("t_view").alias("v"),
        F.count("t_click").alias("c"),
        F.count("t_purchase").alias("p"),
    ).first()
    want = conversion_funnel(spark, sf_dir).first()
    assert (counts["v"], counts["c"], counts["p"]) == (
        want["viewed_users"], want["clicked_users"], want["purchased_users"]
    )


def test_pack_to_shards_matches_python_reference(spark, sf_dir):
    """Shard packing vs a pure-python reference walking the md5-order
    cumsum: identical shard ids for every doc; every shard except the
    last totals within one max row weight of the budget ON EITHER SIDE
    (it inherits the previous shard's overhang and donates its own —
    the numeric contract, NOT ">= budget"); the crossing doc stays in
    the shard it started; shard 0 equals the budget sampler's keep-set
    at the same number (one shared cumsum implementation)."""
    import hashlib

    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sampling import (
        pack_to_shards,
        sample_to_token_budget,
    )

    rows = [(i, (i * 37) % 400 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    budget = 1500
    got = {
        r["doc_id"]: (r["shard_id"], r["cum_weight"])
        for r in pack_to_shards(df, "doc_id", "w", budget).collect()
    }
    order = sorted(rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))
    cum, want = 0, {}
    for doc_id, w in order:
        want[doc_id] = ((cum // budget), cum + w)
        cum += w
    assert got == {k: (s, c) for k, (s, c) in want.items()}
    # every shard except the last totals within one max row weight of
    # the budget, both sides (overhang inherited/donated)
    per_shard = {}
    for doc_id, w in rows:
        s = got[doc_id][0]
        per_shard[s] = per_shard.get(s, 0) + w
    last = max(per_shard)
    w_max = max(w for _, w in rows)
    assert all(
        budget - w_max < v < budget + w_max
        for s, v in per_shard.items()
        if s != last
    )
    assert set(per_shard) == set(range(last + 1))  # contiguous ids
    # shard 0 == the budget sampler's keep-set at the same number
    keep = {
        r["doc_id"] for r in sample_to_token_budget(df, "doc_id", "w", budget).collect()
    }
    assert keep == {k for k, (s, _) in got.items() if s == 0}
    with pytest.raises(ValueError, match="shard_weight"):
        pack_to_shards(df, "doc_id", "w", 0)


def test_cosine_prefix_positional_filter_survives_int64_overflow(spark):
    """r17 review: the candidate positional filter multiplies two
    suffix tail sums — for stopword-saturated docs (nsq ~3e9 each, a
    single token repeated ~56k times) the long*long product passes
    2^63 and non-ANSI Spark would wrap it negative, silently dropping
    a truly-qualifying pair.  The double-cast filter must keep it."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        cosine_prefix_pairs,
        tf_cosine_pairs,
    )

    # identical huge docs would be identity-collapsed around the join,
    # so make the two vectors DIFFERENT but near-parallel: the pair
    # must flow through the candidate join and its positional filter
    docs = [
        (1, "x " * 56000),
        (2, "x " * 55000 + "y " * 1000),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in cosine_prefix_pairs(df, threshold=0.9).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in tf_cosine_pairs(df, threshold=0.9, max_doc_freq=None).collect()
    }
    assert (1, 2) in got            # tail_a*tail_b > 2^63 here
    assert got == want


def test_pack_to_shards_non_bare_column_name(spark):
    """r17 review: the integer-div expression must backtick-quote the
    weight column — a name with a space (or reserved word) is a legal
    DataFrame column and every other operator in the module accepts
    it via F.col."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sampling import (
        pack_to_shards,
    )

    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], ["doc_id", "token count"]
    )
    out = pack_to_shards(df, "doc_id", "token count", 25).collect()
    assert len(out) == 3 and all(r["shard_id"] >= 0 for r in out)


def test_interval_overlap_join_matches_theta_join_random(spark):
    """Differential: binned interval_overlap_join == the naive theta
    join on random interval sets, EXACTLY ONCE per pair (the multi-bin
    dedup the meeting-bin rule must deliver without a distinct) —
    including landmines: intervals starting/ending exactly on bin
    edges, long intervals sharing MANY bins, touching intervals
    (closed bounds: sharing one instant overlaps), and per-key
    separation.  Bin-width invariance: two widths, same result."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    rng = random.Random(1234)
    base = dt.datetime(2024, 3, 1)
    bins = 600

    def mk(n, id0):
        rows = []
        for i in range(n):
            start_s = rng.randint(0, 40000)
            if i % 5 == 0:
                start_s = (start_s // bins) * bins  # start on a bin edge
            length = rng.choice([0, 1, 599, 600, 601, 5000, 9000])
            if i % 7 == 0:
                length = ((start_s + length) // bins) * bins - start_s
                length = max(length, 0)  # end on a bin edge
            key = rng.choice(["a", "b"])
            rows.append(
                (
                    id0 + i,
                    key,
                    base + dt.timedelta(seconds=start_s),
                    base + dt.timedelta(seconds=start_s + length),
                )
            )
        return rows

    lrows, rrows = mk(60, 0), mk(80, 1000)
    ldf = spark.createDataFrame(lrows, ["lid", "lkey", "ls", "le"])
    rdf = spark.createDataFrame(rrows, ["rid", "rkey", "rs", "re"])

    got_rows = [
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            ldf, rdf, "ls", "le", "rs", "re", bin_seconds=bins,
            keys=[("lkey", "rkey")],
        ).collect()
    ]
    want = {
        (r["lid"], r["rid"])
        for r in ldf.join(
            rdf,
            (ldf.lkey == rdf.rkey) & (ldf.ls <= rdf.re) & (rdf.rs <= ldf.le),
        ).collect()
    }
    # exactly-once: no pair may appear twice (the distinct-free claim)
    assert len(got_rows) == len(set(got_rows))
    assert set(got_rows) == want and len(want) > 100

    # the fixture must actually exercise multi-bin meetings, or the
    # dedup claim is untested: some overlapping pair shares >= 3 bins
    multi = [
        (l, r)
        for (lid, lk, ls, le) in lrows
        for (rid, rk, rs, re) in rrows
        if lk == rk and ls <= re and rs <= le
        and min(le, re).timestamp() // bins - max(ls, rs).timestamp() // bins >= 3
        for l, r in [(lid, rid)]
    ]
    assert len(multi) > 5

    # bin-width invariance (a different k per interval, same output)
    got2 = {
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            ldf, rdf, "ls", "le", "rs", "re", bin_seconds=97,
            keys=[("lkey", "rkey")],
        ).collect()
    }
    assert got2 == want


def test_interval_overlap_join_guards(spark):
    """Inverted intervals raise (under closed-interval theta semantics
    an inverted row is still satisfiable, so neither dropping nor
    keeping is safe — the merge_intervals loud-failure convention);
    NULL endpoints drop; touching date ranges (sharing one calendar
    day) DO join."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    d = dt.date
    left = spark.createDataFrame(
        [(1, d(2024, 1, 1), d(2024, 1, 10)), (2, d(2024, 2, 1), None)],
        ["lid", "ls", "le"],
    )
    right = spark.createDataFrame(
        [(10, d(2024, 1, 10), d(2024, 1, 20)), (11, d(2024, 1, 11), d(2024, 1, 20))],
        ["rid", "rs", "re"],
    )
    got = {
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bin_seconds=86400 * 7
        ).collect()
    }
    # [1/1..1/10] touches [1/10..1/20] (closed) but not [1/11..1/20];
    # the NULL-end row joins nothing
    assert got == {(1, 10)}

    bad = spark.createDataFrame([(3, d(2024, 5, 9), d(2024, 5, 1))], ["lid", "ls", "le"])
    with pytest.raises(Exception, match="inverted interval"):
        interval_overlap_join(
            bad, right, "ls", "le", "rs", "re", bin_seconds=86400
        ).collect()


def test_match_sequence_gap_and_absence_semantics(spark):
    """r17 verdict #7: per-step max-gap and strict-absence semantics,
    boundary-exact — a blocker at EXACTLY t_prev or t_k does not block
    (strictly between); a blocker before the earliest qualifying next
    step kills the tail even when a later clean candidate exists (the
    non-backtracking core); a gap-excluded step NULLs; validation
    rejects wrong-length option lists."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sequence import (
        match_sequence,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(uid, offset_min, etype):
        return (uid, t0 + dt.timedelta(minutes=offset_min), etype)

    rows = [
        # u1: clean A(0) -> B(10) -> C(20)
        ev(1, 0, "A"), ev(1, 10, "B"), ev(1, 20, "C"),
        # u2: blocker strictly between A(0) and earliest B(10): t_b
        # NULL even though a later B(30) has no blocker before IT
        ev(2, 0, "A"), ev(2, 5, "X"), ev(2, 10, "B"), ev(2, 30, "B"),
        ev(2, 40, "C"),
        # u3: blocker at EXACTLY t_a — not strictly between, B matches
        ev(3, 0, "A"), ev(3, 0, "X"), ev(3, 10, "B"),
        # u4: blocker at EXACTLY t_b — not strictly between, B matches
        ev(4, 0, "A"), ev(4, 10, "B"), ev(4, 10, "X"),
        # u5: gap bound — earliest B at 45 > A + 30min gap: NULL tail
        # (and the 2h horizon alone would have admitted it)
        ev(5, 0, "A"), ev(5, 45, "B"), ev(5, 50, "C"),
        # u6: blocker between B(10) and C(20) NULLs only the C step
        ev(6, 0, "A"), ev(6, 10, "B"), ev(6, 15, "X"), ev(6, 20, "C"),
    ]
    df = spark.createDataFrame(rows, ["uid", "ts", "et"])
    out = {
        r["uid"]: (r["t_a"], r["t_b"], r["t_c"])
        for r in match_sequence(
            df,
            "uid",
            "ts",
            [
                ("a", F.col("et") == "A"),
                ("b", F.col("et") == "B"),
                ("c", F.col("et") == "C"),
            ],
            within="2 hours",
            max_gaps=["30 minutes", None],
            absences=[F.col("et") == "X", F.col("et") == "X"],
        ).collect()
    }
    m = lambda mins: t0 + dt.timedelta(minutes=mins)  # noqa: E731
    assert out[1] == (m(0), m(10), m(20))
    assert out[2] == (m(0), None, None)
    assert out[3] == (m(0), m(10), None) or out[3][:2] == (m(0), m(10))
    assert out[4][:2] == (m(0), m(10))
    assert out[5] == (m(0), None, None)
    assert out[6] == (m(0), m(10), None)

    with pytest.raises(ValueError, match="max_gaps needs 2"):
        match_sequence(
            df, "uid", "ts",
            [("a", F.col("et") == "A"), ("b", F.col("et") == "B"),
             ("c", F.col("et") == "C")],
            max_gaps=["1 hour"],
        )
    with pytest.raises(ValueError, match="absences needs 2"):
        match_sequence(
            df, "uid", "ts",
            [("a", F.col("et") == "A"), ("b", F.col("et") == "B"),
             ("c", F.col("et") == "C")],
            absences=[F.col("et") == "X"],
        )

    # gap/absence both None == the plain form (regression guard)
    plain = match_sequence(
        df, "uid", "ts",
        [("a", F.col("et") == "A"), ("b", F.col("et") == "B")],
        within="2 hours",
        max_gaps=[None],
        absences=[None],
    )
    base = match_sequence(
        df, "uid", "ts",
        [("a", F.col("et") == "A"), ("b", F.col("et") == "B")],
        within="2 hours",
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, base.collect()))


def test_multi_touch_attribution_matches_python_reference(spark):
    """Differential: multi_touch_attribution's three models vs a pure
    python reference — per-conversion touch sets (strictly-before
    (ts, tiebreak) order, inclusive lookback boundary), U-shape /
    linear weights EXACT, time-decay weights to 1e-12 (pow is libm-
    dependent); Σ weight == 1 per conversion; the unattributed bucket
    carries weight 1.0; the pos == n touch equals last_touch's
    answer."""
    import math

    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.attribution import (
        last_touch_attribution,
        multi_touch_attribution,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    eid = 0
    # u1: 4 touches then conversion (middles exercise (1-2e)/(n-2));
    # one touch outside the 60-min lookback and one AT the boundary
    for mins, et, page in [
        (-120, "view", 1),   # outside lookback
        (-60, "view", 2),    # exactly at conv_ts - lookback: qualifies
        (-30, "view", 3),
        (-20, "view", 4),
        (-10, "view", 5),
        (0, "purchase", None),
    ]:
        rows.append((1, t0 + dt.timedelta(minutes=mins), eid, et, 10.0, page))
        eid += 1
    # u2: no touch at all -> unattributed bucket
    rows.append((2, t0, eid, "purchase", 7.0, None)); eid += 1
    # u3: same-instant touch with SMALLER tiebreak qualifies, larger not
    rows.append((3, t0, 100, "view", 10.0, 8))
    rows.append((3, t0, 101, "purchase", 9.0, None))
    rows.append((3, t0, 102, "view", 10.0, 9))
    # u4: two touches -> 0.5 / 0.5 under position
    rows.append((4, t0 - dt.timedelta(minutes=5), 200, "view", 0.0, 11))
    rows.append((4, t0 - dt.timedelta(minutes=2), 201, "view", 0.0, 12))
    rows.append((4, t0, 202, "purchase", 5.0, None))
    df = spark.createDataFrame(
        rows, ["uid", "ts", "event_id", "event_type", "value", "page"]
    )
    kw = dict(
        touch_filter=(F.col("event_type") == "view") & F.col("page").isNotNull(),
        touch_col="page",
        conversion_filter=F.col("event_type") == "purchase",
        lookback="60 minutes",
        tiebreak_cols=["event_id"],
    )
    pos_rows = multi_touch_attribution(
        df, "uid", "ts", model="position", **kw
    ).collect()
    by_conv: dict[int, list] = {}
    for r in pos_rows:
        by_conv.setdefault(r["uid"], []).append(r)
    # u1: touches at -60, -30, -20, -10 (the -120 one is out of window)
    u1 = sorted(by_conv[1], key=lambda r: r["touch_pos"])
    assert [r["attributed_page"] for r in u1] == [2, 3, 4, 5]
    assert [r["n_touches"] for r in u1] == [4, 4, 4, 4]
    mid = (1.0 - 2.0 * 0.4) / 2
    assert [r["weight"] for r in u1] == [0.4, mid, mid, 0.4]
    # u2: unattributed
    (u2,) = by_conv[2]
    assert u2["attributed_page"] is None and u2["weight"] == 1.0
    assert u2["n_touches"] == 0 and u2["touch_pos"] is None
    # u3: only the smaller-tiebreak same-instant touch qualifies
    (u3,) = by_conv[3]
    assert u3["attributed_page"] == 8 and u3["weight"] == 1.0
    # u4: 0.5 / 0.5
    assert sorted(r["weight"] for r in by_conv[4]) == [0.5, 0.5]
    # Σ weight == 1 per conversion (position weights here are exact)
    for uid, rs in by_conv.items():
        assert math.isclose(sum(r["weight"] for r in rs), 1.0, rel_tol=1e-12)

    lin = multi_touch_attribution(df, "uid", "ts", model="linear", **kw).collect()
    for r in lin:
        n = r["n_touches"]
        assert r["weight"] == (1.0 if n == 0 else 1.0 / n)

    dec = multi_touch_attribution(
        df, "uid", "ts", model="time_decay", half_life_seconds=1800.0, **kw
    ).collect()
    decay_by_conv: dict[int, list] = {}
    for r in dec:
        decay_by_conv.setdefault(r["uid"], []).append(r)
    u1d = sorted(decay_by_conv[1], key=lambda r: r["touch_pos"])
    deltas = [3600.0, 1800.0, 1200.0, 600.0]
    raws = [math.pow(0.5, d / 1800.0) for d in deltas]
    for r, want in zip(u1d, [x / sum(raws) for x in raws]):
        assert abs(r["weight"] - want) < 1e-12
    assert decay_by_conv[2][0]["weight"] == 1.0

    # the pos == n touch is exactly last_touch's answer
    lt = {
        r["uid"]: r["attributed_page"]
        for r in last_touch_attribution(
            df, "uid", "ts",
            touch_filter=kw["touch_filter"], touch_col="page",
            conversion_filter=kw["conversion_filter"],
            lookback="60 minutes", tiebreak_cols=["event_id"],
        ).collect()
    }
    for uid, rs in by_conv.items():
        last = [r for r in rs if r["touch_pos"] == r["n_touches"]]
        got_last = last[0]["attributed_page"] if last else None
        assert got_last == lt[uid], uid

    with pytest.raises(ValueError, match="unknown model"):
        multi_touch_attribution(df, "uid", "ts", model="shapley", **kw)
    with pytest.raises(ValueError, match="half_life_seconds"):
        multi_touch_attribution(df, "uid", "ts", model="time_decay", **kw)
    with pytest.raises(ValueError, match="endpoint_weight"):
        multi_touch_attribution(
            df, "uid", "ts", model="position", endpoint_weight=0.6, **kw
        )


def test_cosine_prefix_zipf_corpus_and_exact_done_path(spark):
    """r17 verdict #2 regression net for the L2AP verification rewrite:
    (a) a ZIPF-vocabulary corpus (rank-1/k frequencies, 400 terms) —
    the regime where the prefix/L2AP bounds actually prune — must stay
    bit-equal to the brute-force reference across thresholds; (b) the
    exact-complete split (both tails-after zero → pdot IS the dot,
    verification skipped) must fire correctly for short docs whose
    prefix covers the whole vector, including same-term different-tf
    pairs (cosine exactly 1.0 via different-norm vectors) that the
    identity collapse does NOT merge."""
    import itertools
    import math
    import random as _random
    from collections import Counter

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        cosine_prefix_pairs,
    )

    rng = _random.Random(23)
    vocab = [f"z{i}" for i in range(400)]
    weights = [1.0 / (k + 1) for k in range(400)]
    docs = []
    for i in range(60):
        toks = rng.choices(vocab, weights=weights, k=rng.choice([3, 10, 30]))
        docs.append((i, " ".join(toks)))
    # near-dups: rewrite with one substitution
    for j, src in enumerate((1, 5, 9)):
        toks = docs[src][1].split()
        toks[0] = "z0"
        docs.append((200 + j, " ".join(toks)))
    # exact-done bait: single-term and doubled single-term docs — the
    # prefix is the whole vector, tails-after are zero at the match,
    # and {t:1} vs {t:2} are DIFFERENT fingerprints (no collapse)
    docs += [(300, "z7"), (301, "z7 z7"), (302, "z7 z7 z7"), (303, "z8 z8")]
    # plus clone groups so collapse and exact-done coexist
    docs += [(310, docs[3][1]), (311, docs[3][1])]

    def ref_pairs(t):
        tfs = {i: Counter(txt.split()) for i, txt in docs}
        out = {}
        for (ia, ca), (ib, cb) in itertools.combinations(tfs.items(), 2):
            dot = sum(ca[w] * cb[w] for w in ca.keys() & cb.keys())
            if dot:
                cos = dot / (
                    math.sqrt(sum(v * v for v in ca.values()))
                    * math.sqrt(sum(v * v for v in cb.values()))
                )
                if cos >= t:
                    out[(min(ia, ib), max(ia, ib))] = cos
        return out

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    # dense_verify_cells_cap=0 (r19): this battery exists to net the
    # PREFIX/bounds machinery (L2AP partial-dot bound, exact-done
    # split) — at fixture scale the default path now takes the dense
    # all-pairs Gram shortcut, which is netted separately by the
    # brute-force threshold sweep and the dense-vs-map differential
    for t in (0.5, 0.8, 0.9, 1.0):
        got = {
            (r["doc_a"], r["doc_b"]): r["cosine"]
            for r in cosine_prefix_pairs(
                df, threshold=t, dense_verify_cells_cap=0
            ).collect()
        }
        want = ref_pairs(t)
        assert got == want, f"threshold {t}"
        if t <= 0.9:
            # the single-term family must appear via the exact-done path
            assert (300, 301) in got and got[(300, 301)] == 1.0


def test_cosine_prefix_new_pairs_equals_full_join_on_union(spark, sf_dir):
    """r17 verdict #3: the incremental probe must be BIT-EQUAL to the
    full cosine_prefix_pairs over corpus ∪ batch restricted to
    batch-involving pairs — on the fixture corpus and on a synthetic
    corpus built to attack the frozen-maxweight design: batch docs
    whose per-term normalized weight EXCEEDS every corpus doc's
    (a corpus-only maxw bound would certify suffixes skippable that
    these partners reach into), batch-only vocabulary, clones, and
    single-term exact-done docs."""
    import itertools
    import math
    import random as _random
    from collections import Counter

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        cosine_prefix_new_pairs,
        cosine_prefix_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    got = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in cosine_prefix_new_pairs(corpus, batch, threshold=0.9).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in cosine_prefix_pairs(docs, threshold=0.9).collect()
        if r["doc_a"] % 5 == 0 or r["doc_b"] % 5 == 0
    }
    assert got == full and len(got) > 0

    # maxweight-attack synthetic corpus
    rng = _random.Random(41)
    vocab = [f"v{i}" for i in range(50)]
    rows = []
    for i in range(30):
        rows.append((i, " ".join(rng.choices(vocab, k=rng.choice([4, 12, 30])))))
    # corpus docs keep every term's weight moderate; BATCH docs are
    # near-pure repetitions (normalized weight ≈ 1 ≫ corpus maxw)
    brows = [
        (100, "v3 " * 20 + "v4"),          # heavy v3, one stray term
        (101, "v3 " * 15),                  # pure v3 (exact-done shape)
        (102, "v3"),                        # single term
        (103, "bnew bnew bnew"),            # batch-only vocabulary
        (104, "bnew bnew bnew bnew"),
        (105, rows[7][1]),                  # clone of a corpus doc
    ]
    cdf = spark.createDataFrame(rows, ["doc_id", "text"])
    bdf = spark.createDataFrame(brows, ["doc_id", "text"])

    def ref_pairs(t):
        tfs = {i: Counter(txt.split()) for i, txt in rows + brows}
        out = {}
        bids = {i for i, _ in brows}
        for (ia, ca), (ib, cb) in itertools.combinations(tfs.items(), 2):
            if ia not in bids and ib not in bids:
                continue
            dot = sum(ca[w] * cb[w] for w in ca.keys() & cb.keys())
            if dot:
                cos = dot / (
                    math.sqrt(sum(v * v for v in ca.values()))
                    * math.sqrt(sum(v * v for v in cb.values()))
                )
                if cos >= t:
                    out[(min(ia, ib), max(ia, ib))] = cos
        return out

    for t in (0.5, 0.9, 1.0):
        got = {
            (r["doc_a"], r["doc_b"]): r["cosine"]
            for r in cosine_prefix_new_pairs(cdf, bdf, threshold=t).collect()
        }
        assert got == ref_pairs(t), f"threshold {t}"
    # the heavy-repetition family must have been found (101 vs 102 is
    # cosine exactly 1.0; batch-only vocab pairs too)
    got09 = ref_pairs(0.9)
    assert (101, 102) in got09 and (103, 104) in got09


def test_cosine_prefix_new_pairs_guards_and_no_cached_frames(spark):
    """Family guards: id overlap raises, threshold outside (0,1]
    raises; and the operator unpersists everything it cached (the
    localCheckpoint makes the output independent of the caches)."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        cosine_prefix_new_pairs,
    )

    c = spark.createDataFrame([(1, "a b c"), (2, "b c d")], ["doc_id", "text"])
    n = spark.createDataFrame([(2, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="share ids"):
        cosine_prefix_new_pairs(c, n)
    n2 = spark.createDataFrame([(9, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="threshold"):
        cosine_prefix_new_pairs(c, n2, threshold=0.0)
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    out = cosine_prefix_new_pairs(c, n2, threshold=0.5).collect()
    assert len(out) >= 1
    assert cm.isEmpty(), "cosine_prefix_new_pairs leaked a cached DataFrame"


def test_resample_linear_matches_python_reference(spark):
    """Differential for operators/timeseries.resample_linear: random
    sparse per-key series (gaps of many sizes, single-point keys,
    duplicate observations in one bucket, NULL rows) vs a pure-python
    grid + interpolation reference computing the identical expression
    tree."""
    import datetime as _dt
    import random as _random
    from decimal import Decimal

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.timeseries import (
        resample_linear,
    )

    rng = _random.Random(7)
    base = _dt.datetime(2024, 3, 1)
    rows = []
    for key in ["a", "b", "c", "one_point"]:
        n = 1 if key == "one_point" else rng.randint(3, 25)
        hour = 0
        for _ in range(n):
            v = round(rng.uniform(-50, 500), 2)
            rows.append((key, base + _dt.timedelta(hours=hour, minutes=7), v))
            if rng.random() < 0.3:  # duplicate obs inside a bucket
                rows.append((key, base + _dt.timedelta(hours=hour, minutes=40), v + 1.5))
            hour += rng.choice([1, 1, 2, 3, 7, 24])
    rows.append(("a", None, 99.0))
    rows.append(("a", base, None))
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    got = {
        (r["k"], r["bucket"]): (r["value"], r["is_observed"])
        for r in resample_linear(
            df, "ts", ["k"], F.col("v").cast("decimal(12,2)"), 3600
        ).collect()
    }

    # python reference
    obs = {}
    for k, ts, v in rows:
        if ts is None or v is None:
            continue
        b = int(ts.replace(tzinfo=_dt.timezone.utc).timestamp()) // 3600 * 3600
        s, c = obs.get((k, b), (Decimal(0), 0))
        obs[(k, b)] = (s + Decimal(str(v)).quantize(Decimal("0.01")), c + 1)
    want = {}
    keys = {k for k, _ in obs}
    for k in keys:
        bs = sorted(b for kk, b in obs if kk == k)
        vals = {b: float(obs[(k, b)][0]) / obs[(k, b)][1] for b in bs}
        for b in range(bs[0], bs[-1] + 1, 3600):
            if b in vals:
                val = vals[b]
                seen = True
            else:
                pb = max(x for x in bs if x < b)
                nb = min(x for x in bs if x > b)
                val = vals[pb] + (vals[nb] - vals[pb]) * (float(b - pb) / float(nb - pb))
                seen = False
            ts = _dt.datetime.utcfromtimestamp(b)
            import math
            want[(k, ts)] = (math.floor(val * 1e6 + 0.5) / 1e6, seen)
    assert got == want and len(got) > len(obs)


def test_holt_smooth_matches_python_reference(spark):
    """Differential for operators/timeseries.holt_smooth: the exact
    per-key fold (init l0=y0, b0=0; one-step forecast) vs a python
    loop with the identical operation order, over random multi-key
    series incl. a single-point key.  Also pins the guard."""
    import math
    import random as _random

    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.timeseries import (
        holt_smooth,
    )

    rng = _random.Random(11)
    rows = []
    for k in ["x", "y", "solo"]:
        n = 1 if k == "solo" else rng.randint(4, 40)
        for i in range(n):
            rows.append((k, i, round(rng.uniform(0, 1000), 3)))
    df = spark.createDataFrame(rows, ["k", "i", "v"])
    a, b = 0.5, 0.3
    got = {
        (r["k"], r["i"]): (r["forecast"], r["level"], r["trend"])
        for r in holt_smooth(df, ["k"], "i", "v", alpha=a, beta=b).collect()
    }

    def dr(x):
        return None if x is None else math.floor(x * 1e6 + 0.5) / 1e6

    want = {}
    for k in ["x", "y", "solo"]:
        series = sorted((i, v) for kk, i, v in rows if kk == k)
        l = t = None
        for i, y in series:
            if l is None:
                fc, l, t = None, y, 0.0
            else:
                fc = l + t
                newl = a * y + (1.0 - a) * (l + t)
                t = b * (newl - l) + (1.0 - b) * t
                l = newl
            want[(k, i)] = (dr(fc), dr(l), dr(t))
    assert got == want
    with pytest.raises(ValueError, match="alpha"):
        holt_smooth(df, ["k"], "i", "v", alpha=0.0)


def test_two_proportion_ztest_matches_textbook_and_guards(spark):
    """operators/stats.two_proportion_ztest vs hand-computed pooled z
    and Wilson bounds on a fixed table; NULL-treatment rows dropped,
    NULL conversion = not converted; degenerate pools give NULL z."""
    import math

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.stats import (
        two_proportion_ztest,
    )

    # 40 treatment (12 conv), 60 control (9 conv), plus junk rows
    rows = (
        [(True, True)] * 12 + [(True, False)] * 27 + [(True, None)] * 1
        + [(False, True)] * 9 + [(False, False)] * 51
        + [(None, True)] * 5
    )
    df = spark.createDataFrame(rows, ["t", "c"])
    r = two_proportion_ztest(df, "t", "c").collect()[0]
    assert (r["n_treatment"], r["n_control"]) == (40, 60)
    assert (r["conv_treatment"], r["conv_control"]) == (12, 9)
    pt, pc = 12 / 40.0, 9 / 60.0
    pp = 21 / 100.0
    z = (pt - pc) / math.sqrt(pp * (1 - pp) * (1 / 40.0 + 1 / 60.0))

    def dr(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    assert r["z_stat"] == dr(z)
    assert r["abs_lift"] == dr(pt - pc)
    assert r["significant_95"] == (abs(z) > 1.96)
    zs, zs2 = 1.96, 1.96 * 1.96
    for p, n, lo, hi in [
        (pt, 40.0, r["wilson_lo_treatment"], r["wilson_hi_treatment"]),
        (pc, 60.0, r["wilson_lo_control"], r["wilson_hi_control"]),
    ]:
        centre = p + zs2 / (2.0 * n)
        margin = zs * math.sqrt(p * (1 - p) / n + zs2 / (4.0 * n * n))
        den = 1.0 + zs2 / n
        assert (lo, hi) == (dr((centre - margin) / den), dr((centre + margin) / den))
        assert 0.0 <= lo < p < hi <= 1.0
    # degenerate: all converted -> pooled rate 1 -> NULL z, not 0.0
    allc = spark.createDataFrame([(True, True), (False, True)], ["t", "c"])
    r2 = two_proportion_ztest(allc, "t", "c").collect()[0]
    assert r2["z_stat"] is None and r2["significant_95"] is None
    # one empty arm
    onearm = spark.createDataFrame([(True, True), (True, False)], ["t", "c"])
    r3 = two_proportion_ztest(onearm, "t", "c").collect()[0]
    assert r3["z_stat"] is None and r3["rate_control"] is None


def test_k_anonymity_report_reference_and_null_groups(spark):
    """operators/pii.k_anonymity_report: hand-checkable groups incl.
    NULL quasi values forming their own matchable group; empty-input
    zeros; the no-columns guard."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.pii import (
        k_anonymity_report,
    )

    rows = (
        [("US", "A")] * 7 + [("US", "B")] * 2 + [("DE", "A")] * 1
        + [(None, "A")] * 3 + [(None, None)] * 1
    )
    df = spark.createDataFrame(rows, ["country", "seg"])
    r = k_anonymity_report(df, ["country", "seg"], k_thresholds=(2, 5)).collect()[0]
    assert r["total_rows"] == 14 and r["n_groups"] == 5
    assert r["min_k"] == 1 and r["singleton_rows"] == 2
    assert r["rows_below_2"] == 2      # the two singletons
    assert r["rows_below_5"] == 2 + 2 + 3  # singletons + US/B + NULL/A
    empty = spark.createDataFrame([], "country string, seg string")
    r0 = k_anonymity_report(empty, ["country"], k_thresholds=(2,)).collect()[0]
    assert r0["total_rows"] == 0 and r0["n_groups"] == 0 and r0["min_k"] is None
    with pytest.raises(ValueError, match="quasi"):
        k_anonymity_report(df, [])


@pytest.mark.slow
def test_cosine_prefix_new_pairs_clone_stress(spark):
    """Regression net for the r18 sweep's catch (exponent 1.55 before
    the side-aware collapse): clone-inflate BOTH frames — corpus
    clone groups, batch clone groups, batch clones of corpus docs,
    batch-only fingerprints — and the incremental join must equal the
    brute-force batch-involving reference across thresholds incl.
    t=1.0 (the identical-vector epilogue expression, not literal
    1.0)."""
    import itertools
    import math
    import random as _random
    from collections import Counter

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        cosine_prefix_new_pairs,
    )

    rng = _random.Random(99)
    vocab = [f"w{i}" for i in range(40)]
    base_c = [" ".join(rng.choices(vocab, k=rng.choice([3, 8, 20]))) for _ in range(12)]
    base_n = [" ".join(rng.choices(vocab, k=rng.choice([3, 8]))) for _ in range(4)]
    crows, nrows = [], []
    cid, nid = 0, 1000
    for txt in base_c:
        for _ in range(4):            # corpus clone groups of 4
            crows.append((cid, txt)); cid += 1
    for txt in base_n:
        for _ in range(3):            # batch clone groups of 3
            nrows.append((nid, txt)); nid += 1
    for txt in base_c[:3]:            # batch clones of corpus docs
        nrows.append((nid, txt)); nid += 1
    nrows.append((nid, "q q q"))      # batch-only fingerprint
    nrows.append((nid + 1, "q q q"))

    cdf = spark.createDataFrame(crows, ["doc_id", "text"])
    ndf = spark.createDataFrame(nrows, ["doc_id", "text"])

    def ref_pairs(t):
        tfs = {i: Counter(txt.split()) for i, txt in crows + nrows}
        bids = {i for i, _ in nrows}
        out = {}
        for (ia, ca), (ib, cb) in itertools.combinations(tfs.items(), 2):
            if ia not in bids and ib not in bids:
                continue
            dot = sum(ca[w] * cb[w] for w in ca.keys() & cb.keys())
            if dot:
                na = math.sqrt(sum(v * v for v in ca.values()))
                nb = math.sqrt(sum(v * v for v in cb.values()))
                cos = dot / (na * nb)
                if cos >= t:
                    out[(min(ia, ib), max(ia, ib))] = cos
        return out

    for t in (0.6, 0.9, 1.0):
        got = {
            (r["doc_a"], r["doc_b"]): r["cosine"]
            for r in cosine_prefix_new_pairs(cdf, ndf, threshold=t).collect()
        }
        want = ref_pairs(t)
        # identical-vector pairs: python computes nsq/(sqrt(nsq)*
        # sqrt(nsq)) through the same double ops, so exact == holds
        assert got == want, (
            f"threshold {t}: {len(got)} vs {len(want)}; "
            f"missing={set(want) - set(got)} extra={set(got) - set(want)}"
        )
    # the cross-frame clone family really fired: batch clone of a
    # corpus doc pairs with all 4 corpus members at cosine 1.0
    w09 = ref_pairs(0.9)
    assert sum(1 for (a, b) in w09 if a < 1000 <= b) > 0
    assert sum(1 for (a, b) in w09 if a >= 1000 and b >= 1000) > 0


def test_holt_pandas_impl_bit_equal_to_fold(spark):
    """holt_smooth(impl='pandas') — the linear long-series path — must
    be BIT-EQUAL to the JVM fold: Python floats are IEEE doubles and
    the loop states the identical operation sequence.  Random
    multi-key series incl. single-point keys and negative values."""
    import random as _random

    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.timeseries import (
        holt_smooth,
    )

    rng = _random.Random(5)
    rows = []
    for k in ["p", "q", "solo"]:
        n = 1 if k == "solo" else rng.randint(5, 300)
        for i in range(n):
            rows.append((k, i, round(rng.uniform(-100, 1000), 4)))
    df = spark.createDataFrame(rows, ["k", "i", "v"])
    key = lambda r: (r["k"], r["i"])  # noqa: E731
    fold = {key(r): (r["y"], r["forecast"], r["level"], r["trend"])
            for r in holt_smooth(df, ["k"], "i", "v", 0.4, 0.2).collect()}
    pand = {key(r): (r["y"], r["forecast"], r["level"], r["trend"])
            for r in holt_smooth(df, ["k"], "i", "v", 0.4, 0.2, impl="pandas").collect()}
    assert fold == pand and len(fold) == len(rows)
    with pytest.raises(ValueError, match="impl"):
        holt_smooth(df, ["k"], "i", "v", impl="nope")


def test_append_ivf_index_many_equals_sequential(spark, sf_dir, tmp_path):
    """r19 optimization round: the multi-batch append verb must leave
    the EXACT layout its sequential form produces — same segment
    directories (empty increments consume no id), same vector rows,
    same _id_map slices — and its validations must fire BEFORE any
    write (cross-increment id duplicates, ids already indexed, dims
    mismatch)."""
    import os
    import shutil

    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.similarity import (
        append_ivf_index,
        append_ivf_index_many,
        write_ivf_index,
    )

    embs = load(spark, sf_dir, "embeddings")
    base = embs.filter(F.col("vec_id") % 3 == 0)
    seq = str(tmp_path / "ivf_seq")
    many = str(tmp_path / "ivf_many")
    write_ivf_index(base, seq, n_clusters=5, iterations=2)
    shutil.copytree(seq, many)

    def day(i):
        return embs.filter(F.col("vec_id") % 3 == 1).withColumn(
            "vec_id", F.col("vec_id") + F.lit(1_000_000 * (i + 1))
        )

    empty = embs.filter(F.col("vec_id") < 0)
    increments = [day(0), empty, day(1), day(2)]
    seq_reports = [append_ivf_index(b, seq) for b in increments]
    many_reports = append_ivf_index_many(increments, many)
    assert [tuple(sorted(r.items())) for r in seq_reports] == [
        tuple(sorted(r.items())) for r in many_reports
    ]

    def snapshot(root):
        vec = spark.read.parquet(os.path.join(root, "vectors"))
        idm = spark.read.parquet(os.path.join(root, "_id_map"))
        return (
            sorted(tuple(r) for r in vec.collect()),
            sorted(tuple(r) for r in idm.collect()),
            sorted(vec.columns),
            sorted(idm.columns),
        )

    assert snapshot(seq) == snapshot(many)

    # validation failures leave the index untouched
    before = snapshot(many)
    with pytest.raises(ValueError, match="more than one increment"):
        append_ivf_index_many([day(9), day(9)], many)
    with pytest.raises(ValueError, match="already exist"):
        append_ivf_index_many([day(0)], many)
    bad_dims = day(7).withColumn("embedding", F.slice("embedding", 1, 3))
    with pytest.raises(ValueError, match="dims"):
        append_ivf_index_many([day(8), bad_dims], many)
    with pytest.raises(ValueError, match="no index"):
        append_ivf_index_many([day(0)], str(tmp_path / "missing"))
    assert snapshot(many) == before, "a rejected call must write nothing"
    assert append_ivf_index_many([], many) == []


def test_forget_ids_pooled_deletes_keep_swap_discipline(spark, sf_dir, tmp_path):
    """r19 optimization round (guide §2.6): forget_ids now overlaps its
    per-store deletes in a driver thread pool.  The terminal-runs-only
    staged-swap contract must hold under that concurrency: after a
    cascade over three index layouts plus two datasets, every store
    serves the survivor set, NO staging/old debris directory remains
    anywhere (each delete's swap sequence completed inside its
    thread), and the report preserves input order."""
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.maintenance import (
        forget_ids,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.retrieval import (
        write_bm25_index,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.similarity import (
        write_ivf_index,
        write_lsh_index,
    )

    docs = load(spark, sf_dir, "documents")
    embs = load(spark, sf_dir, "embeddings")
    dims = len(embs.select("embedding").first()[0])
    bm25 = str(tmp_path / "bm25")
    lsh = str(tmp_path / "lsh")
    ivf = str(tmp_path / "ivf")
    ds1 = str(tmp_path / "docs.parquet")
    ds2 = str(tmp_path / "events.parquet")
    write_bm25_index(docs, bm25, n_buckets=8)
    write_lsh_index(embs, lsh, planes=3, dims=dims)
    write_ivf_index(embs, ivf, n_clusters=5, iterations=2)
    docs.write.parquet(ds1)
    load(spark, sf_dir, "events").write.parquet(ds2)

    victims = [int(r["doc_id"]) for r in docs.filter(F.col("doc_id") % 7 == 2).collect()][:15]
    report = forget_ids(
        spark,
        victims,
        index_roots=[bm25, lsh, ivf],
        datasets=[(ds1, "doc_id"), (ds2, "user_id")],
    )
    assert list(report.keys()) == [
        ("index", bm25), ("index", lsh), ("index", ivf),
        ("dataset", ds1), ("dataset", ds2),
    ], "report must preserve input order under the pool"
    assert report[("dataset", ds1)]["rows_removed"] == len(victims)

    # no staged-swap debris anywhere under any target
    debris = []
    for base, dirs, _ in os.walk(tmp_path):
        debris += [
            os.path.join(base, d)
            for d in dirs
            if "_staging" in d or d.endswith("_old")
        ]
    assert debris == [], f"pooled deletes left swap debris: {debris}"

    # every store serves exactly the survivor set
    vic = set(victims)
    for root, sub, col in (
        (bm25, "", "doc_id"),
        (ivf, "vectors", "vec_id"),
        (lsh, "", "vec_id"),
    ):
        store = spark.read.parquet(os.path.join(root, sub) if sub else root)
        if col in store.columns:
            got = {r[0] for r in store.select(col).distinct().collect()}
            assert not (got & vic), f"{root} still serves victim ids"


def test_forget_ids_rejects_aliased_and_nested_index_roots(spark, tmp_path):
    """forget_ids compares index roots QUALIFIED: "p" and "p/" name one
    store, and the pooled deletes would run it twice in parallel; a
    root nested inside another root is rejected too.  Both fail before
    any delete runs, so every store still holds the ids."""
    import os

    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        retrieval as R,
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.maintenance import (
        forget_ids,
    )

    docs = spark.createDataFrame(
        [(i, f"spark stream doc{i % 3} hash") for i in range(12)],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, float(i % 3), 0.5]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    outer = str(tmp_path / "bm25")
    inner = os.path.join(outer, "_lsh")  # hidden from the outer store's reads
    R.write_bm25_index(docs, outer, n_buckets=4)
    S.write_lsh_index(vecs, inner, planes=2, dims=4)

    with pytest.raises(ValueError, match="listed twice"):
        forget_ids(spark, [3, 5], index_roots=[outer, outer + "/"])
    with pytest.raises(ValueError, match="nested"):
        forget_ids(spark, [3, 5], index_roots=[outer, inner])
    with pytest.raises(ValueError, match="nested"):
        forget_ids(spark, [3, 5], index_roots=[inner + "/", outer])
    assert spark.read.parquet(os.path.join(outer, "_doclens")).count() == 12
    assert spark.read.parquet(os.path.join(inner, "_id_map")).count() == 12


def test_cosine_dense_gate_bounds_collect_bytes(spark, monkeypatch):
    """r19 (r18 advisory + verdict #9): the dense-verify gate bounds
    the driver collect in BYTES, not just matrix cells — a long-term
    vocabulary replicates each term string across its posting rows, so
    a corpus whose int64 matrix fits the cells cap can still imply a
    huge pandas pull.  Such a corpus must take the map fallback (and
    still produce the exact pairs); a short-term corpus of the same
    shape must still take the dense arm."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import dedup

    def corpus(term_len):
        toks = [("x" * term_len) + str(i) for i in range(4)]
        rows = [
            (1, " ".join(toks)),
            (2, " ".join(toks)),
            (3, " ".join(toks[:2] + ["zq1", "zq2"])),
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    calls = {"dense": 0, "gram": 0}
    real_dense = dedup._verify_cosine_dense
    real_gram = dedup._dense_all_pairs_gram

    def spy_dense(*a, **k):
        calls["dense"] += 1
        return real_dense(*a, **k)

    def spy_gram(*a, **k):
        calls["gram"] += 1
        return real_gram(*a, **k)

    monkeypatch.setattr(dedup, "_verify_cosine_dense", spy_dense)
    monkeypatch.setattr(dedup, "_dense_all_pairs_gram", spy_gram)

    # cells cap generous; byte budget = 8*cap. cap=40 -> 320 B budget:
    # 4-term docs with ~500-char terms blow the byte bound while the
    # 3x6 cell matrix stays under the cells cap.  BOTH dense arms (the
    # r19 all-pairs Gram shortcut and the r18 dense verify) sit behind
    # the same byte gate.
    big = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in dedup.cosine_prefix_pairs(
            corpus(500), threshold=0.5, dense_verify_cells_cap=40
        ).collect()
    }
    assert calls == {"dense": 0, "gram": 0}, (
        "long-term corpus must take the prefix machinery + map fallback"
    )
    small = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in dedup.cosine_prefix_pairs(
            corpus(1), threshold=0.5, dense_verify_cells_cap=40
        ).collect()
    }
    assert calls["gram"] == 1, "short-term corpus must take the Gram shortcut"
    # identical pair SET either way (cosines differ only via the term
    # strings' lengths being irrelevant to tf vectors): same keys,
    # same values
    assert big == small and len(big) >= 1


def test_prefix_self_joins_reject_nonpositive_threshold(spark):
    """The self-joins share the incremental twins' threshold guard: at
    t <= 0 shingle-disjoint docs qualify (0.0 >= t) but can never be
    generated by a prefix join, so a threshold <= 0 raises instead of
    silently returning no pairs."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        prefix_containment_pairs,
        prefix_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g h"), (3, "i j k l")], ["doc_id", "text"]
    )
    for fn in (prefix_jaccard_pairs, prefix_containment_pairs):
        for bad in (0.0, -0.1):
            with pytest.raises(ValueError, match="threshold must be > 0"):
                fn(df, threshold=bad)


def test_cosine_gram_broadcasts_float64_matrix_and_norms(spark):
    """The Gram kernel's broadcast carries the float64 matrix and the
    sqrt-norms, converted once on the driver instead of per task; the
    conversion is exact under the kernel's < 2^53 gate, so the cosines
    equal the integer-dot expression."""
    import math

    import numpy as np

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import dedup

    tf = spark.createDataFrame(
        [(1, "a", 2), (1, "b", 1), (2, "a", 4), (2, "b", 2), (3, "a", 1), (3, "c", 3)],
        "_id long, term string, _tf long",
    )
    sink: list = []
    pairs = dedup._dense_all_pairs_gram(tf, 0.3, "doc_a", "doc_b", sink)
    try:
        got = {(min(a, b), max(a, b)): c for a, b, c in pairs.collect()}
        (payload,) = [bc.value for bc in sink]
    finally:
        for bc in sink:
            bc.destroy()
    ids, mat, sq, side, fpc = payload
    assert mat.dtype == np.float64 and sq.dtype == np.float64
    assert side is None and fpc is None
    assert np.array_equal(sq, np.sqrt(np.einsum("ij,ij->i", mat, mat)))
    vecs = {1: {"a": 2, "b": 1}, 2: {"a": 4, "b": 2}, 3: {"a": 1, "c": 3}}

    def cos(x, y):
        dot = sum(vecs[x][k] * vecs[y].get(k, 0) for k in vecs[x])
        return dot / (
            math.sqrt(sum(v * v for v in vecs[x].values()))
            * math.sqrt(sum(v * v for v in vecs[y].values()))
        )

    want = {(x, y): cos(x, y) for x, y in ((1, 2), (1, 3), (2, 3)) if cos(x, y) >= 0.3}
    assert got == want and (1, 2) in got


def test_cosine_prefix_clone_stress_at_one_both_regimes(spark):
    """Trimmed default-profile copy of the @slow clone-stress battery,
    at t=1.0 where the identical-vector epilogue decides: corpus clone
    groups, batch clone groups, a batch clone of a corpus doc and a
    batch-only fingerprint.  The incremental join must equal brute
    force through the Gram path (default cap) and through the prefix
    path with map verification (cap 0), and the self-join over
    corpus ∪ batch must equal it over all pairs."""
    import itertools
    import math
    import random as _random
    from collections import Counter

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        cosine_prefix_new_pairs,
        cosine_prefix_pairs,
    )

    rng = _random.Random(99)
    vocab = [f"w{i}" for i in range(40)]
    base_c = [" ".join(rng.choices(vocab, k=rng.choice([3, 8, 20]))) for _ in range(4)]
    base_n = [" ".join(rng.choices(vocab, k=rng.choice([3, 8]))) for _ in range(2)]
    crows = [(4 * i + j, txt) for i, txt in enumerate(base_c) for j in range(4)]
    nrows = [(1000 + 3 * i + j, txt) for i, txt in enumerate(base_n) for j in range(3)]
    # clones of base_c[1] (nsq 3) score nsq/(sqrt(nsq)·sqrt(nsq)) > 1,
    # clones of base_c[0] (nsq 8) score just below 1 and drop at t=1.0
    nrows += [(1100, base_c[1]), (1101, "q q q"), (1102, "q q q"), (1103, base_c[0])]
    cdf = spark.createDataFrame(crows, ["doc_id", "text"])
    ndf = spark.createDataFrame(nrows, ["doc_id", "text"])

    def ref_pairs(rows, keep):
        tfs = {i: Counter(txt.split()) for i, txt in rows}
        out = {}
        for (ia, ca), (ib, cb) in itertools.combinations(tfs.items(), 2):
            dot = sum(ca[w] * cb[w] for w in ca.keys() & cb.keys())
            if dot and keep(ia, ib):
                cos = dot / (
                    math.sqrt(sum(v * v for v in ca.values()))
                    * math.sqrt(sum(v * v for v in cb.values()))
                )
                if cos >= 1.0:
                    out[(min(ia, ib), max(ia, ib))] = cos
        return out

    want_new = ref_pairs(crows + nrows, lambda a, b: max(a, b) >= 1000)
    want_all = ref_pairs(crows + nrows, lambda a, b: True)
    # the cross-frame clone family and the batch-only clones fire
    assert (4, 1100) in want_new and (1101, 1102) in want_new
    assert (0, 1103) not in want_new
    assert len(want_all) > len(want_new)
    for cap in (None, 0):
        got_new = {
            (r["doc_a"], r["doc_b"]): r["cosine"]
            for r in cosine_prefix_new_pairs(
                cdf, ndf, threshold=1.0, dense_verify_cells_cap=cap
            ).collect()
        }
        assert got_new == want_new, f"cap {cap}"
    got_all = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in cosine_prefix_pairs(cdf.unionByName(ndf), threshold=1.0).collect()
    }
    assert got_all == want_all
