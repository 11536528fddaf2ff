#!/usr/bin/env python
"""Big-scale bench leg: the sf0.1 suite at 10x (a synthetic "sf1").

Purpose (BENCH/BASELINE.md): pin that the LSH-vs-exact crossovers and
per-wave crawl flatness measured at sf0.1 still hold an order of
magnitude up, where a wrong plan would blow up quadratically.

- Dedup corpus: sf0.1's documents replicated 10x with a per-replica
  token suffix (regexp_replace '(\\S+)' -> '$1r<k>'), making replicas
  DISJOINT in shingle space — duplicate structure (and therefore the
  true pair set) scales exactly linearly, so any super-linear runtime
  is the algorithm's fault, not the data's. Deterministic, no RNG.
- Crawl: the bench.py synthetic frontier at sf=1.0 sizing (400 cities
  x 300 listings = 120k listings), executor-side page rendering.

Prints ONE JSON line. Not part of the driver's per-round bench
(bench.py); run manually: python bench_big.py [--crawl-only|--dedup-only]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

BIG_DIR = os.environ.get("FS_BIG_DIR", "/tmp/fs_sf1")
REPLICAS = int(os.environ.get("FS_BIG_REPLICAS", "10"))
DEDUP_QUERIES = ["dedup_exact", "dedup_winnow", "dedup_minhash_lsh",
                 "dedup_ngram_jaccard",
                 # assembly tier (round 4): 10x growth evidence
                 "gopher_repetition", "benchmark_contamination",
                 "packing_stats", "train_split_stats", "pii_stats",
                 # round-5 corpus ops: 10x growth evidence
                 "dup_span_stats", "gopher_quality", "lm_fluency_buckets",
                 "dsir_weights", "training_order",
                 # round-6: the no-corpus-sort fluency scale form
                 "lm_fluency_buckets_scale"]


def build_big_documents(spark, src_dir: str) -> str:
    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{src_dir}/documents.parquet")
    parts = []
    for k in range(REPLICAS):
        parts.append(
            src.select(
                F.concat(F.col("doc_id"), F.lit(f"#r{k}")).alias("doc_id"),
                F.regexp_replace(F.col("text"), r"(\S+)", f"$1r{k}").alias("text"),
                *[c for c in src.columns if c not in ("doc_id", "text")],
            )
        )
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    out = os.path.join(BIG_DIR, "documents.parquet")
    big.repartition(64).write.mode("overwrite").parquet(out)
    return BIG_DIR


def scheduler_leg(spark, cpus: int) -> dict:
    """One simulated scheduler DAY over the 10x (400-city, 122k-page)
    site under jobs/scheduler.py's cadence twin (r4 verdict #6), in
    batched mode: each tick's per-city jobs of one type collapse into
    one multi-seed distributed drain (job-TYPE order preserved — the
    jobMutex contract granularity). The known-URL set carries across
    ticks, so the 23 hourly active re-crawls fetch only search pages
    until the no-new rule fires — the reference's steady-state day.
    The day's first full crawl (the midnight sold batch) is asserted
    equal, on wave_metrics totals, to a standalone runner drain of the
    same site with the same spider type."""
    import tempfile
    from types import SimpleNamespace

    from fundamental_spark.crawl.runner import CrawlRunner
    from fundamental_spark.synth.site import build_site, spec_web_rows

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from jobs.scheduler import simulate_day

    n_cities, listings = 400, 300
    site = build_site(
        seed=42,
        cities=tuple(f"city{i:03d}" for i in range(n_cities)),
        listings_per_city=listings,
        page_size=50,
        description_words=24,
        render_details=False,
    )
    rows, _ = spec_web_rows(site, description_words=24)
    web = spark.createDataFrame(
        rows, "url string, html string, spec string"
    ).repartition(cpus).cache()
    web.count()

    out: dict = {"cities": n_cities, "listings_per_city": listings}
    std_root = tempfile.mkdtemp(prefix="fs_sched_std_")
    day_root = tempfile.mkdtemp(prefix="fs_sched_day_")
    try:
        # standalone reference drain (sold spider — the day's first job)
        t0 = time.perf_counter()
        std = CrawlRunner(
            spark=spark, warehouse_root=std_root, web=web, spider_type="sold"
        )
        std.init([(site.search_url(c, 1), c) for c in site.cities])
        std.run()
        std_metrics = std.table("wave_metrics").collect()
        out["standalone_sold"] = {
            "sec": round(time.perf_counter() - t0, 2),
            "pages": int(sum(m["pages_fetched"] for m in std_metrics)),
            "new_urls": int(sum(m["new_listing_urls"] for m in std_metrics)),
        }

        args = SimpleNamespace(warehouse=day_root, max_pages=100)
        t0 = time.perf_counter()
        day = simulate_day(spark, args, web, site, weekday=0)
        out["day_sec"] = round(time.perf_counter() - t0, 2)
        out["jobs"] = len(day)
        out["day_pages_total"] = int(
            sum(j.get("pages_fetched", 0) for j in day)
        )
        first_crawl = next(j for j in day if j["job"] == "sold")
        out["midnight_sold"] = {
            "pages": first_crawl["pages_fetched"],
            "new_urls": first_crawl["new_listing_urls"],
        }
        out["matches_standalone"] = (
            first_crawl["pages_fetched"] == out["standalone_sold"]["pages"]
            and first_crawl["new_listing_urls"] == out["standalone_sold"]["new_urls"]
        )
        by_type: dict[str, dict] = {}
        for j in day:
            b = by_type.setdefault(
                j["job"], {"jobs": 0, "pages": 0, "waves": 0}
            )
            b["jobs"] += 1
            b["pages"] += j.get("pages_fetched", 0)
            b["waves"] += j.get("waves", 0)
        out["by_type"] = by_type

        # analytics over the day's ingested table (r4 verdict #9
        # stretch): district medians at the crawl's own 10x scale —
        # the full extract -> bucketed MERGE -> analysis path, timed
        from fundamental_spark.operators.analysis import district_price_medians
        from fundamental_spark.tableformat import Warehouse

        props = Warehouse(spark, f"{day_root}/props")
        t0 = time.perf_counter()
        med = district_price_medians(
            props.read("properties"), as_of="2024-06-01"
        )
        n_districts = med.count()
        out["district_medians"] = {
            "sec": round(time.perf_counter() - t0, 2),
            "districts": int(n_districts),
            "properties": int(props.read("properties").count()),
        }
    finally:
        shutil.rmtree(std_root, ignore_errors=True)
        shutil.rmtree(day_root, ignore_errors=True)
        web.unpersist()
    return out


def bpe_leg(spark, src_dir: str, n_merges: int = 1000, batch: int = 32) -> dict:
    """Production-shape BPE: 1000 merges via the batched trainer
    (round-5 verdict #3 'done' criterion). The sequential spec form is
    one Spark round-trip PER MERGE (~0.3 s each — 1000 merges ≈ 5 min
    of pure scheduling); the batched form learns up to ``batch``
    disjoint merges per round-trip, so the same 1000 merges cost
    ~n_merges/batch rounds. Reports achieved merges (conflict-starved
    rounds may under-fill) and merges/sec."""
    from pyspark.sql import functions as F

    from fundamental_spark.operators.pipeline import bpe_train

    # the sf0.1 table has only 31 distinct words (fully merged by ~90
    # rounds — data exhaustion, not an algorithm bound), so the leg
    # derives a vocabulary-RICH corpus deterministically: 8 hex words
    # of 8 chars per doc from chained md5(doc_id||i) — tens of
    # thousands of unique words, >100k learnable merges, no RNG
    docs = spark.read.parquet(f"{src_dir}/documents.parquet").select(
        "doc_id",
        F.concat_ws(
            " ",
            *[
                F.substring(
                    F.md5(F.concat(F.col("doc_id"), F.lit(str(i)))), 1, 8
                )
                for i in range(8)
            ],
        ).alias("text"),
    )
    t0 = time.perf_counter()
    # production knobs: a wide candidate window (BPE's hottest pairs
    # cluster around common symbols, so disjoint yield per window is
    # limited) and an uncapped round budget — the loop stops when the
    # merge target is reached or the vocabulary is exhausted
    merges = bpe_train(
        docs, n_merges=n_merges, batch=batch,
        candidates_factor=16, max_rounds=n_merges,
    ).collect()
    batched_sec = round(time.perf_counter() - t0, 2)
    # sequential baseline at a SMALL merge count (the per-merge cost is
    # flat — extrapolation documented rather than burned as wall-time)
    t0 = time.perf_counter()
    seq = bpe_train(docs, n_merges=24).collect()
    seq24_sec = round(time.perf_counter() - t0, 2)
    return {
        "n_merges_requested": n_merges,
        "n_merges_learned": len(merges),
        "batch": batch,
        "batched_sec": batched_sec,
        "merges_per_sec": round(len(merges) / batched_sec, 1),
        "sequential_24_merges_sec": seq24_sec,
        "sequential_1000_extrapolated_sec": round(seq24_sec / len(seq) * n_merges, 1),
    }


def vectors_leg(spark, src_dir: str) -> dict:
    """100×-shape stress for the two newest heavy vector ops (round-5
    verdict #9): semdedup and PQ-ANN at 50k and 500k vectors — the
    volumes where fixed job overhead stops dominating and the claimed
    curves (semdedup O(Σn_c²) with cell count scaled ∝ n so cell SIZE
    stays bounded — the paper's deployment shape — and the PQ ADC scan
    O(n·m)) must show up as ~linear wall-time growth.

    Corpus: sf0.1's 2k embeddings replicated deterministically (vec_id
    offset + a replica-indexed perturbation of coordinate 0, so
    replicas are distinct but the geometry — and therefore the
    near-dup/cluster structure — replicates; no RNG)."""
    from pyspark.sql import functions as F

    from fundamental_spark.operators.similarity import pq_topk, semdedup

    from fundamental_spark.operators.similarity import kmeans_centroids

    base = spark.read.parquet(f"{src_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n_base = base.count()
    out: dict = {"n_base": n_base}
    # n_centroids scales EXACTLY with n (32 -> 320) so the per-cell
    # matmul term Σn_c² ~ n²/k is linear by construction; the remaining
    # super-linear term is Lloyd training + assignment at O(n·k·d),
    # timed separately below so the two curves are attributable (the
    # deployment fix for the assignment term — hierarchical / ANN-
    # assisted assignment a la faiss — is documented, not implemented)
    for label, reps, n_cents in (("50k", 25, 32), ("500k", 250, 320)):
        corpus = (
            base.crossJoin(
                spark.range(reps).select(F.col("id").alias("rep"))
            )
            .select(
                (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x, i: F.when(
                        i == 0, x + (F.col("rep") % 97).cast("float") * F.lit(0.001)
                    ).otherwise(x),
                ).alias("embedding"),
            )
            .repartition(spark.sparkContext.defaultParallelism)
            .cache()
        )
        n = corpus.count()
        queries = corpus.filter(F.col("vec_id") < 10)
        t0 = time.perf_counter()
        kmeans_centroids(corpus, n_centroids=n_cents, n_iters=3)
        kmeans_sec = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        n_dropped = (
            semdedup(corpus, threshold=0.9, n_centroids=n_cents)
            .filter(~F.col("kept"))
            .count()
        )
        sem_sec = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        pq_rows = pq_topk(corpus, queries, k=5).count()
        pq_sec = round(time.perf_counter() - t0, 2)
        corpus.unpersist()
        out[label] = {
            "n_vectors": n,
            "n_centroids": n_cents,
            "kmeans_train_sec": kmeans_sec,
            "semdedup_sec": sem_sec,
            "semdedup_dropped": int(n_dropped),
            "ann_pq_sec": pq_sec,
            "ann_pq_rows": int(pq_rows),
        }
    out["semdedup_growth_10x"] = round(
        out["500k"]["semdedup_sec"] / max(out["50k"]["semdedup_sec"], 1e-9), 2
    )
    out["ann_pq_growth_10x"] = round(
        out["500k"]["ann_pq_sec"] / max(out["50k"]["ann_pq_sec"], 1e-9), 2
    )
    return out


def seen_prefilter_leg(spark) -> dict:
    """The cuckoo URL-seen prefilter at bench scale: a 2M-key seen set
    (64k keys/shard — the load regime where the prefilter matters),
    probed by 180k truly-new + 20k seen candidates.

    - exact-join bypass rate = fraction of truly-new candidates cleared
      WITHOUT the anti-join (1 − FP rate); seen false negatives must be 0;
    - filter bytes per seen key (the broadcast the probe ships);
    - the refresh-re-queue path: delete 100k keys (re-queued listings)
      and re-probe them — they return to definitely-new (bypass again)
      instead of paying the exact join on every future refresh.
    """
    from pyspark.sql import functions as F

    from fundamental_spark.crawl.canonical import DEFAULT_N_SHARDS, with_url_keys
    from fundamental_spark.crawl.cuckoo import (
        build_cuckoo,
        delete_keys,
        probe_cuckoo,
    )

    n_seen, n_new, n_probe_seen, n_del = 2_000_000, 180_000, 20_000, 100_000
    keyed = with_url_keys(
        spark.range(n_seen + n_new).select(
            "id",
            F.concat(
                F.lit("https://www.funda.nl/detail/koop/city/huis-x-"), F.col("id"), F.lit("/")
            ).alias("url"),
        )
    ).cache()
    keyed.count()  # materialize the keys before the build clock starts
    seen = keyed.filter(F.col("id") < n_seen)
    cands = keyed.filter(
        (F.col("id") >= n_seen) | (F.col("id") < n_probe_seen)
    )
    per_shard = max(1024, n_seen // DEFAULT_N_SHARDS)
    out: dict = {"n_seen": n_seen, "n_new": n_new, "n_probe_seen": n_probe_seen}

    t0 = time.perf_counter()
    filt = build_cuckoo(seen, n_keys_per_shard=per_shard).cache()
    filt.count()
    out["build_sec"] = round(time.perf_counter() - t0, 2)
    filter_bytes = filt.agg(
        F.sum(F.length("table") + F.length("stash")).alias("b")
    ).collect()[0]["b"]
    out["filter_bytes_per_key"] = round(filter_bytes / n_seen, 2)

    t0 = time.perf_counter()
    r = probe_cuckoo(cands, filt).agg(
        F.sum(
            F.when((F.col("id") >= n_seen) & ~F.col("maybe_seen"), 1).otherwise(0)
        ).alias("new_bypassed"),
        F.sum(
            F.when((F.col("id") < n_seen) & ~F.col("maybe_seen"), 1).otherwise(0)
        ).alias("seen_missed"),
    ).collect()[0]
    out["probe_sec"] = round(time.perf_counter() - t0, 2)
    out["new_bypass_rate"] = round(r["new_bypassed"] / n_new, 4)
    out["seen_false_negatives"] = int(r["seen_missed"])  # exactness: must be 0

    deletes = keyed.filter(F.col("id") < n_del)
    t0 = time.perf_counter()
    filt2 = delete_keys(filt, deletes).cache()
    filt2.count()
    out["delete_sec"] = round(time.perf_counter() - t0, 2)
    # re-probe the deleted keys: definitely-new again == bypass
    n_bypass = probe_cuckoo(deletes, filt2).filter(~F.col("maybe_seen")).count()
    out["deleted_bypass_rate"] = round(n_bypass / n_del, 4)
    filt2.unpersist()
    filt.unpersist()
    keyed.unpersist()
    return out


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    src_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    crawl_only = "--crawl-only" in sys.argv
    dedup_only = "--dedup-only" in sys.argv
    scheduler_only = "--scheduler-only" in sys.argv
    bpe_only = "--bpe-only" in sys.argv
    seen_only = "--seen-only" in sys.argv

    from fundamental_spark.session import get_spark

    spark = get_spark(
        "fundamental-spark-bench-big",
        master=f"local[{cpus}]",
        shuffle_partitions=int(os.environ.get("FS_BENCH_SHUFFLE", "64")),
    )
    spark.sparkContext.setLogLevel("ERROR")
    result: dict = {"replicas": REPLICAS, "cpus": cpus, "src": src_dir}

    if scheduler_only:
        result["scheduler"] = scheduler_leg(spark, cpus)
        print(json.dumps(result))
        return
    if bpe_only:
        result["bpe"] = bpe_leg(spark, src_dir)
        print(json.dumps(result))
        return
    if seen_only:
        result["seen_prefilter"] = seen_prefilter_leg(spark)
        print(json.dumps(result))
        return
    if "--vectors-only" in sys.argv:
        result["vectors"] = vectors_leg(spark, src_dir)
        print(json.dumps(result))
        return

    if not dedup_only:
        import bench

        os.environ.setdefault("FS_BENCH_EXEC_RENDER", "1")
        result["crawl"] = bench.crawl_bench(spark, sf=1.0, cpus=cpus)

    if not crawl_only:
        from fundamental_spark.queries import SPARK_QUERIES

        big = build_big_documents(spark, src_dir)
        n = spark.read.parquet(f"{big}/documents.parquet").count()
        result["n_docs"] = n
        timings: dict[str, dict] = {}
        for name in DEDUP_QUERIES:
            t0 = time.perf_counter()
            rows = SPARK_QUERIES[name](spark, big).count()
            timings[name] = {
                "sec": round(time.perf_counter() - t0, 2),
                "rows": rows,
            }
        # incremental delta-probe dedup at 10x: the registered query's
        # doc_id % 10 split assumes a bigint id; the big corpus carries
        # replica-suffixed STRING ids, so the leg calls the operator
        # with the hash twin of the same 10% split
        from pyspark.sql import functions as F

        from fundamental_spark.operators.dedup import minhash_incremental_pairs

        t0 = time.perf_counter()
        rows = minhash_incremental_pairs(
            spark.read.parquet(f"{big}/documents.parquet"),
            new_filter=F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0,
            threshold=0.1, k=64, bands=16, allow_low_recall=True,
        ).count()
        timings["dedup_minhash_incremental(hash-split)"] = {
            "sec": round(time.perf_counter() - t0, 2),
            "rows": rows,
        }
        result["dedup"] = timings
        shutil.rmtree(BIG_DIR, ignore_errors=True)

        # near-dup-heavy leg: the regime real crawl corpora live in.
        # 1000 source docs x 10 replicas, each replica = the source text
        # plus 3 replica-unique trailing tokens -> replicas share ALL
        # source shingles (jaccard ~ S/(S+6), well above threshold).
        # Shingle document frequency rises 10x, so the exact inverted-
        # index join pays (10 x df)^2 per shingle (~100x) while
        # MinHash-LSH pays per-candidate only — the crossover that makes
        # LSH the 100 TB path.
        result["neardup"] = neardup_leg(spark, src_dir)
        result["boilerplate"] = boilerplate_leg(spark, src_dir)

    if not crawl_only and not dedup_only:
        result["scheduler"] = scheduler_leg(spark, cpus)

    print(json.dumps(result))


def neardup_leg(spark, src_dir: str, n_src: int = 1000) -> dict:
    from pyspark.sql import functions as F

    from fundamental_spark.queries import SPARK_QUERIES

    src = (
        spark.read.parquet(f"{src_dir}/documents.parquet")
        .orderBy("doc_id")
        .limit(n_src)
    )
    parts = []
    for k in range(REPLICAS):
        parts.append(
            src.select(
                F.concat(F.col("doc_id"), F.lit(f"#n{k}")).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(f" uq{k}a uq{k}b uq{k}c")
                ).alias("text"),
                *[c for c in src.columns if c not in ("doc_id", "text")],
            )
        )
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    out_dir = os.path.join(BIG_DIR + "_neardup", "")
    out = os.path.join(out_dir, "documents.parquet")
    big.repartition(64).write.mode("overwrite").parquet(out)
    timings: dict[str, dict] = {"n_docs": n_src * REPLICAS}
    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard"):
        t0 = time.perf_counter()
        rows = SPARK_QUERIES[name](spark, out_dir.rstrip("/")).count()
        timings[name] = {
            "sec": round(time.perf_counter() - t0, 2),
            "rows": rows,
        }
    shutil.rmtree(out_dir, ignore_errors=True)
    return timings


def boilerplate_leg(spark, src_dir: str, n_src: int = 1000) -> dict:
    """The regime that makes MinHash-LSH the web-scale plan: every page
    shares a small boilerplate block (nav/footer text — universal in
    crawl corpora). Its shingles have df = n, so the exact inverted-
    index join materializes df² = n² intermediate rows PER boilerplate
    shingle (4 x 10^8 here; quadratic in corpus size), while the LSH
    signature treats boilerplate as 4 more shingles per doc and its
    banded candidates stay proportional to TRUE near-dup pairs (the
    boilerplate lifts the jaccard floor to ~0.04, under threshold)."""
    from pyspark.sql import functions as F

    from fundamental_spark.queries import SPARK_QUERIES

    src = (
        spark.read.parquet(f"{src_dir}/documents.parquet")
        .orderBy("doc_id")
        .limit(n_src)
    )
    boiler = " funda nl alle rechten voorbehouden 2024"  # 6 tokens -> 4 shingles
    parts = []
    for k in range(REPLICAS):
        parts.append(
            src.select(
                F.concat(F.col("doc_id"), F.lit(f"#b{k}")).alias("doc_id"),
                F.concat(
                    F.regexp_replace(F.col("text"), r"(\S+)", f"$1b{k}"),
                    F.lit(boiler),
                ).alias("text"),
                *[c for c in src.columns if c not in ("doc_id", "text")],
            )
        )
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    out_dir = os.path.join(BIG_DIR + "_boiler", "")
    out = os.path.join(out_dir, "documents.parquet")
    big.repartition(64).write.mode("overwrite").parquet(out)
    timings: dict[str, dict] = {"n_docs": n_src * REPLICAS}
    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard"):
        t0 = time.perf_counter()
        rows = SPARK_QUERIES[name](spark, out_dir.rstrip("/")).count()
        timings[name] = {
            "sec": round(time.perf_counter() - t0, 2),
            "rows": rows,
        }
    # winnow capped (the registered max_fp_df=64 boilerplate guard,
    # round 4) vs uncapped (pure MOSS): the final winnow window of the
    # shared footer selects the SAME min-hash in every document, so the
    # uncapped fingerprint index carries a df=n fingerprint and the
    # join materializes n²/2 rows from it — the round-3 hot-key blowup
    # this leg exists to demonstrate.
    from fundamental_spark.operators.dedup import winnow_pairs

    docs_df = spark.read.parquet(out)
    t0 = time.perf_counter()
    rows = SPARK_QUERIES["dedup_winnow"](spark, out_dir.rstrip("/")).count()
    timings["dedup_winnow_capped"] = {
        "sec": round(time.perf_counter() - t0, 2), "rows": rows,
    }
    t0 = time.perf_counter()
    rows = winnow_pairs(docs_df, min_shared=2).count()
    timings["dedup_winnow_uncapped"] = {
        "sec": round(time.perf_counter() - t0, 2), "rows": rows,
    }
    shutil.rmtree(out_dir, ignore_errors=True)
    return timings


if __name__ == "__main__":
    main()
