"""Batch workloads: closed-loop passes over a mix of registry queries.

One client runs each query of the mix in turn (``Query.fn`` builds the
plan, the noop sink executes it) and starts the next when the previous
one returns; a pass is one run over the whole mix in a seeded order.
``release_shared_builders`` runs between passes, so every pass pays
its own cache fills.  Outputs are verified during set-up: every query
is collected and hash-compared with its DuckDB oracle.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import random
import statistics
import time

import gen
from tracing import NullTracer, Rest, fold_exec, fold_python, pct

# Query -> the per-layer metric its latency is summed into: the
# operator module it exercises (``operators.relational`` also covers
# plain DataFrame relational plans), or the ``sql`` front-end.  The
# first two read the 10x fact replica; q32 and q192 share the
# ``doc_tokens`` builder, so the second reuses the first's cache fill.
MIX = {
    "q5_revenue_by_priority": "operators.relational.s",
    "q59_shipping_priority": "sql.s",
    "q32_ngram_jaccard_pairs": "operators.dedup.s",
    "q192_inverted_index": "operators.dedup.s",
    "q57_topk_cosine_pandas": "operators.similarity.s",
    "q37_text_stats": "operators.textstats.s",
    "q43_media_features": "operators.multimodal.s",
}


def corpus(facts_sf: float, docs_sf: float):
    """A 10x replica of a generated base corpus at ``facts_sf`` (facts
    replicated with key offsets, dims unchanged), with the documents
    and embeddings of a ``docs_sf`` corpus."""
    tables = gen.replicate(gen.star_schema(facts_sf), 10)
    docs = gen.star_schema(docs_sf)
    tables["documents"], tables["embeddings"] = docs["documents"], docs["embeddings"]
    return tables


@functools.cache
def _check_tool():
    spec = importlib.util.spec_from_file_location(
        "repo_check", os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    return check


def _frame_summary(cols: list[str], rows: list[tuple]) -> list:
    """``tools/check.py``'s order-insensitive (rows, sorted columns, hash)."""
    return list(_check_tool().frame_summary(cols, rows))


def oracle_summaries(ctx, reg, names: list[str], corpus: str) -> dict[str, list]:
    """(rows, sorted columns, hash) of each query's DuckDB oracle on
    ``corpus``, computed once per corpus (its bytes) and oracle text,
    and cached under ``.perfbench/cache``."""
    from flink_s3_read_write_spark.sources.io import TABLES

    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(corpus, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    for n in names:
        h.update(f"{n}\x00{reg[n].oracle}\x00".encode())
    path = os.path.join(ctx.cache_dir, f"oracle-{h.hexdigest()[:24]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    import duckdb

    con = duckdb.connect()
    con.sql("SET memory_limit='2GB'")
    con.sql(f"SET temp_directory='{ctx.tmp}'")
    con.sql("SET threads=4")
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    out = {}
    for n in names:
        res = con.sql(reg[n].oracle)
        out[n] = _frame_summary(list(res.columns), res.fetchall())
    con.close()
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out


def _verify_sweep(ctx, spark, reg, names, corpus, expected) -> None:
    """Run every query once, collect it and compare with its oracle."""
    for n in names:
        ctx.attempted += 1
        try:
            df = reg[n].fn(spark, corpus)
            got = _frame_summary(df.columns, [tuple(r) for r in df.collect()])
        except Exception as e:  # noqa: BLE001 - a failing query is counted, not fatal
            ctx.fail(f"{n}: {type(e).__name__}: {str(e)[:300]}")
            continue
        if got != expected[n]:
            ctx.fail(f"{n}: spark {got} != oracle {expected[n]}")


def run(ctx, mix: dict[str, str], corpus_tables) -> None:
    from flink_s3_read_write_spark.queries import registry
    from flink_s3_read_write_spark.session import release_shared_builders

    reg = registry()
    names = list(mix)
    corpus = os.path.join(ctx.work, "corpus")
    gen.write_corpus(corpus_tables, corpus, ctx.seed)
    expected = oracle_summaries(ctx, reg, names, corpus)

    # Set-up, several times: session + a warm-up sweep of the mix that
    # also verifies every output (so the timed passes start JIT-warm,
    # cache-cold, and hash nothing) + release.  The first set-up also
    # launches the JVM.
    for _ in range(ctx.setups):
        t0 = time.perf_counter()
        spark = ctx.new_session()
        t1 = time.perf_counter()
        with ctx.tracer.span("warmup"):
            _verify_sweep(ctx, spark, reg, names, corpus, expected)
            release_shared_builders(spark)
        ctx.record_setup(t1 - t0, time.perf_counter() - t1)

    sc = spark.sparkContext
    rng = random.Random(ctx.seed)
    passes: list[dict] = []
    deadline = time.perf_counter() + ctx.seconds
    while len(passes) < 1 + ctx.trace or time.perf_counter() < deadline:
        traced = ctx.trace and len(passes) % 2 == 1
        tag = f"p{len(passes)}"
        order = names[:]
        rng.shuffle(order)
        tr = ctx.tracer if traced else NullTracer()
        lat, plan = {}, {}
        t_pass = time.perf_counter()
        with tr.span("pass", tag=tag):
            for n in order:
                ctx.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tr.span("query", query=n):
                        with tr.span("queries.fn"):
                            if traced:
                                sc.setJobGroup(f"{tag}:{n}:plan", n)
                            df = reg[n].fn(spark, corpus)
                        t1 = time.perf_counter()
                        with tr.span("sink.noop"):
                            if traced:
                                sc.setJobGroup(f"{tag}:{n}:exec", n)
                            df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001
                    ctx.fail(f"{tag} {n}: {type(e).__name__}: {str(e)[:300]}")
                    continue
                lat[n] = time.perf_counter() - t0
                plan[n] = t1 - t0
        pass_s = time.perf_counter() - t_pass
        rec = {"tag": tag, "traced": traced, "pass_s": pass_s, "lat": lat, "plan": plan}
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec["cache_bytes"], rec["cached_relations"] = Rest(spark).storage()
        release_shared_builders(spark)
        passes.append(rec)

    untraced = [p for p in passes if not p["traced"]]
    lats = sorted(v for p in untraced for v in p["lat"].values())
    ctx.metrics["pass_s"] = statistics.median(p["pass_s"] for p in untraced)
    ctx.metrics["latency_p50_s"] = pct(lats, 0.5)
    ctx.metrics["latency_p90_s"] = pct(lats, 0.9)
    ctx.notes.update(passes=len(untraced), pass_s=[round(p["pass_s"], 4) for p in untraced],
                     latency_samples=len(lats),
                     query_s={n: round(statistics.median(p["lat"][n] for p in untraced if n in p["lat"]), 4)
                              for n in names if any(n in p["lat"] for p in untraced)})
    if ctx.trace:
        _layers(ctx, spark, mix, passes)


def _layers(ctx, spark, mix, passes) -> None:
    rest = Rest(spark)
    jobs = rest.get("jobs")
    stages = {s["stageId"]: s for s in rest.get("stages?status=complete")}
    executions = rest.get("sql?details=true&planDescription=false&length=100000")
    traced = [p for p in passes if p["traced"]]
    per_pass = []
    for p in traced:
        pj = [j for j in jobs if str(j.get("jobGroup", "")).startswith(p["tag"] + ":")]
        layer = fold_exec(pj, stages, ctx.cores)
        layer.update(fold_python(executions, {j["jobId"] for j in pj}))
        layer["queries.plan_s"] = sum(p["plan"].values())
        layer["queries.plan_jobs"] = sum(1 for j in pj if j["jobGroup"].endswith(":plan"))
        layer["io.cache_bytes"] = p["cache_bytes"]
        layer["io.cached_relations"] = p["cached_relations"]
        for n, key in mix.items():
            layer[key] = layer.get(key, 0.0) + p["lat"].get(n, 0.0)
        per_pass.append(layer)
    for k in per_pass[0]:
        ctx.layers[k] = statistics.mean(lp[k] for lp in per_pass)
    ctx.layers["trace.overhead_s"] = (statistics.median(p["pass_s"] for p in traced)
                                      - statistics.median(p["pass_s"] for p in passes if not p["traced"]))
