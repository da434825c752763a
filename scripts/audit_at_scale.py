"""Run EVERY registered query against a (scaled) data directory and
record which ones fail or stall — the whole-registry version of the
scaling bench's spot checks. The point is not timing: it is flushing
out the failure class the round-8 sf10 run caught on
simjoin_prefix_filter (a corpus-sized frame chosen as a broadcast
build side off a bad static estimate -> driver OOM), plus overflow
valves (q47's recursion row limit) and anything else that only
manifests past the test scale factor.

Each query gets a wall-clock budget; on timeout the audit cancels all
running Spark jobs and moves on, recording TIMEOUT (slow is reported,
not failed — quadratic-by-design baselines are expected to blow the
budget at 100x and say so in their docstrings).

Usage: python scripts/audit_at_scale.py [sf_dir] [--budget=SECONDS]
                 [--skip=a,b,c] [--only=a,b,c] [--isolate]
                 [--label=NAME] [--summarize-existing]
Defaults: sf_dir=.bench_cache/sf10, budget=240. --isolate drops every
cached frame and the session memo after each query — without it, the
~190 persisted shared frames accumulated across the registry evict
each other in one local JVM and the tail of the run times out on GC
pressure rather than on anything the query did.
Writes .bench_cache/audit_<basename>.json and prints one line per
query; exits non-zero if any query ERRORED (timeouts don't fail it).

Full-registry sf10 runs ALSO update the COMMITTED summary
AUDIT_SF10.json at the repo root (VERDICT r9 item 3: the raw records
live in gitignored .bench_cache, so the at-scale claims in PLANS.md
must cite a file a fresh clone can read). --label names the summary
entry (default: "forced_fallback" when SMRF_BROADCAST_ROW_LIMIT is
set, else "default"); --summarize-existing rebuilds the summary from
the raw .bench_cache records without running anything.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simplemapreduceframework_spark import get_spark, registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUMMARY = os.path.join(REPO, "AUDIT_SF10.json")


def _summary_entry(record: dict, date: str, isolate: bool) -> dict:
    """Compact committed form of one raw audit record: config + counts
    + per-query seconds (ok) / status (not ok). Run config is read from
    the record itself (written at run time since round 11); `date` /
    `isolate` arguments are fallbacks for legacy records that predate
    the embedded fields."""
    results = record["results"]
    ok = {n: r["sec"] for n, r in results.items() if r["status"] == "ok"}
    bad = {n: r["status"] for n, r in results.items() if r["status"] != "ok"}
    return {
        "date": record.get("date", date),
        "sf_dir": record["sf_dir"],
        "budget_sec": record["budget"],
        "isolate": record.get("isolate", isolate),
        "broadcast_row_limit": record.get("broadcast_row_limit"),
        "n_queries": len(results),
        "n_ok": len(ok),
        "n_error": sum(1 for s in bad.values() if s == "ERROR"),
        "n_timeout": sum(1 for s in bad.values() if s == "TIMEOUT"),
        "total_sec": round(sum(ok.values()), 1),
        "slowest": sorted(ok, key=ok.get, reverse=True)[:5],
        "seconds": {n: ok[n] for n in sorted(ok)},
        "not_ok": bad,
    }


def update_committed_summary(
    record: dict, label: str, date: str, isolate: bool
) -> None:
    """Merge one audit run into the committed AUDIT_SF10.json (entries
    keyed by label; a re-run under the same label replaces it)."""
    doc: dict = {"_": (
        "Committed summary of the whole-registry at-scale audits "
        "(scripts/audit_at_scale.py) and the scaling decades "
        "(scripts/bench_scaling.py). Raw records live in gitignored "
        ".bench_cache/ and regenerate via scripts/make_sf_scaled.py; "
        "this file is the in-repo evidence PLANS.md cites. Dates on "
        "backfilled entries are raw-record file mtimes (the default_r8 "
        "record was preserved-by-copy in round 9, so its mtime is the "
        "copy date; the run itself was round 8)."
    ), "audits": {}, "scaling_decades": {}}
    if os.path.exists(SUMMARY):
        with open(SUMMARY) as f:
            doc.update(json.load(f))
    doc["audits"][label] = _summary_entry(record, date, isolate)
    with open(SUMMARY, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"committed summary updated: {SUMMARY} [{label}]")


def _scaling_summary(path: str, decade: str) -> dict:
    """Compact committed form of one bench_scaling record."""
    with open(path) as f:
        rec = json.load(f)
    import datetime

    return {
        "date": datetime.datetime.fromtimestamp(
            os.path.getmtime(path)
        ).strftime("%Y-%m-%d"),
        "decade": decade,
        "runs": rec.get("runs"),
        "driver_memory": rec.get("driver_memory", "default (8g)"),
        "results": rec["results"],
    }


# Legacy raw records predate the embedded run-config fields; map their
# filenames to (label, broadcast_row_limit). The r9 default-budget raw
# record was overwritten in place by the r10 default run, so the
# committed `default_r9` entry is preserve-only: the rebuild keeps it
# if present but cannot regenerate it (documented in PLANS.md).
_LEGACY_AUDITS = [
    ("default_r8", "audit_sf10_r8.json", None),
    ("forced_fallback_r9", "audit_sf10_forced_fallback_r9.json", "10000"),
    ("default", "audit_sf10_default_r10.json", None),
    ("forced_fallback", "audit_sf10_forced_fallback_r10.json", "10000"),
]


def summarize_existing() -> None:
    """Rebuild AUDIT_SF10.json from the raw .bench_cache records: the
    legacy named records above, plus any labeled records written by
    round-11+ runs (which embed label/date/config), plus both scaling
    decades, the bigmem control, and the simjoin decades. Entries whose
    raw record is gone (default_r9) are left as committed."""
    import datetime
    import glob

    cache = os.path.join(REPO, ".bench_cache")
    seen_paths = set()
    for label, fname, limit in _LEGACY_AUDITS:
        p = os.path.join(cache, fname)
        if not os.path.exists(p):
            print(f"skip {label}: {p} missing")
            continue
        seen_paths.add(os.path.realpath(p))
        with open(p) as f:
            record = json.load(f)
        if "label" in record:
            # re-run under a legacy filename: trust the embedded config
            update_committed_summary(record, record["label"], "", True)
            continue
        record["broadcast_row_limit"] = limit
        date = datetime.datetime.fromtimestamp(
            os.path.getmtime(p)
        ).strftime("%Y-%m-%d")
        update_committed_summary(record, label, date, isolate=True)
    # round-11+ runs preserve a labeled copy with the config embedded
    for p in sorted(glob.glob(os.path.join(cache, "audit_sf10*.json"))):
        if os.path.realpath(p) in seen_paths:
            continue
        with open(p) as f:
            record = json.load(f)
        if "label" not in record:
            continue  # canonical-latest duplicate or pre-r11 record
        seen_paths.add(os.path.realpath(p))
        update_committed_summary(record, record["label"], "", True)
    scalings = [
        ("sf0.1_to_sf1", "scaling_sf1.json", "sf0.1 -> sf1"),
        ("sf1_to_sf10", "scaling_sf10.json", "sf1 -> sf10"),
        ("sf1_to_sf10_bigmem24g", "scaling_sf10_bigmem.json", "sf1 -> sf10"),
        (
            "sf1_to_sf10_simjoin_int64",
            "scaling_sf10_simjoin_r9.json",
            "sf1 -> sf10",
        ),
        (
            "sf1_to_sf10_simjoin_int64_bigmem24g",
            "scaling_sf10_simjoin_r9_bigmem.json",
            "sf1 -> sf10",
        ),
        # r13 re-measure of the simjoin second decade (VERDICT r12
        # item 4): stock-JVM warm exponent for identical code swings
        # 0.74-0.87 across rounds; the bigmem control's 0.58 shows
        # the gap is sf10 memory pressure, not candidate growth.
        (
            "sf1_to_sf10_simjoin_r13",
            "scaling_sf10_simjoin_r13.json",
            "sf1 -> sf10",
        ),
        # r14 repeat of the simjoin second decade: the full-set r14
        # decade run drew warm 0.95 (above the r13 0.74-0.87 band);
        # the immediate single-query repeat drew 0.80 (inside it) —
        # consistent with the r13 diagnosis that the stock number is
        # session-to-session sf10 memory pressure, not candidate
        # growth (bigmem control 0.58).
        (
            "sf1_to_sf10_simjoin_r14",
            "scaling_sf10_simjoin_r14.json",
            "sf1 -> sf10",
        ),
        # r15 repeat of the simjoin second decade: the full-set r15
        # decade run drew warm 0.93; the immediate single-query
        # repeat drew 0.72 (below the r13 0.74-0.87 band's floor) —
        # the same-code spread 0.72-0.93 again matches the
        # memory-pressure diagnosis (bigmem control 0.58).
        (
            "sf1_to_sf10_simjoin_r15",
            "scaling_sf10_simjoin_r15.json",
            "sf1 -> sf10",
        ),
        # r16 repeat of the simjoin second decade: the full-set r16
        # decade run drew warm 1.08 (the highest draw yet, in a
        # session whose whole bench/audit profile ran ~1.1-1.3x
        # slower than r15); the immediate single-query repeat drew
        # 0.63 — BELOW every prior stock-JVM draw (r15 floor 0.72)
        # and approaching the r13-era bigmem control (0.58). The
        # fresh audits' simjoin seconds (80.6 / 92.2) sit inside the
        # r15 audit spread.
        (
            "sf1_to_sf10_simjoin_r16",
            "scaling_sf10_simjoin_r16.json",
            "sf1 -> sf10",
        ),
        # r16 isolated 24g simjoin control: drew 0.91 the same day the
        # refreshed full-set 24g profile drew 0.99 and the stock
        # isolated repeat drew 0.63 — today's four draws (0.63-1.08)
        # separate by NEITHER heap size nor isolation, so the r13
        # "bigger heap recovers it" reading is too narrow. The round
        # therefore ran the candidate-count instrumentation the
        # protocol held in reserve, once, settling it: candidate
        # pairs 4,093,122 (sf1) -> 40,934,751 (sf10) = 10.0008x for
        # a 10x corpus, prefix tokens exactly 10x — per-query work is
        # measured-linear, and the warm-exponent spread is entirely
        # machine/session state (GC, page cache) on a measurement
        # whose sf1 base is only ~6-8 s. Min-over-draws (0.63) is the
        # right one-sided-noise estimator; the watch item needs no
        # further escalation path.
        (
            "sf1_to_sf10_simjoin_r16_bigmem",
            "scaling_sf10_simjoin_r16_bigmem.json",
            "sf1 -> sf10",
        ),
        # r13: decade witness for the NEW shared hygiene verdict
        # frame (_hygiene_verdicts_shared). exponent_cold covers the
        # one-per-session frame build (the corpus verdict pass);
        # exponent (warm) covers consumers reading the persisted
        # frame — both should stay ~linear.
        (
            "sf1_to_sf10_hygiene_r13",
            "scaling_sf10_hygiene_r13.json",
            "sf1 -> sf10",
        ),
    ]
    if os.path.exists(SUMMARY):
        with open(SUMMARY) as f:
            doc = json.load(f)
    else:
        # no raw audit record existed either — start from the same
        # skeleton update_committed_summary builds
        doc = {"audits": {}, "scaling_decades": {}}
    for label, fname, decade in scalings:
        p = os.path.join(cache, fname)
        if not os.path.exists(p):
            print(f"skip {label}: {p} missing")
            continue
        doc.setdefault("scaling_decades", {})[label] = _scaling_summary(
            p, decade
        )
    with open(SUMMARY, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"committed summary rebuilt: {SUMMARY}")


def main() -> None:
    if "--summarize-existing" in sys.argv:
        summarize_existing()
        return
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = dict(
        a[2:].split("=", 1)
        for a in sys.argv[1:]
        if a.startswith("--") and "=" in a
    )
    sf_dir = pos[0] if pos else os.path.join(REPO, ".bench_cache", "sf10")
    budget = float(opts.get("budget", "240"))
    skip = set(opts.get("skip", "").split(",")) - {""}
    only = set(opts.get("only", "").split(",")) - {""}

    registry.load_all()
    spark = get_spark(f"scale-audit-{os.path.basename(sf_dir)}")
    sc = spark.sparkContext
    results: dict[str, dict] = {}
    names = [
        n
        for n in registry.all_queries()
        if n not in skip and (not only or n in only)
    ]
    for idx, name in enumerate(names):
        fn = registry.QUERIES[name]
        out: dict = {}

        def run() -> None:
            try:
                t0 = time.monotonic()
                n_rows = fn(spark, sf_dir).count()
                out["sec"] = round(time.monotonic() - t0, 1)
                out["rows"] = n_rows
                out["status"] = "ok"
            except Exception as e:  # noqa: BLE001 — audit records, not raises
                first = str(e).strip().splitlines()
                out["status"] = "ERROR"
                out["error"] = (first[1] if first[0].startswith("An error occurred") and len(first) > 1 else first[0])[:300]

        th = threading.Thread(target=run, daemon=True)
        th.start()
        th.join(budget)
        if th.is_alive():
            sc.cancelAllJobs()
            th.join(30)
            out.setdefault("status", "TIMEOUT")
            if out["status"] == "ERROR" and "cancelled" in out.get("error", "").lower():
                out = {"status": "TIMEOUT"}
        if "--isolate" in sys.argv:
            from simplemapreduceframework_spark.session_memo import release

            release(spark)
            # release clears the memo and the CacheManager, which only
            # holds SQL-cached relations: localCheckpoint / RDD blocks
            # from iterative queries (pagerank, curriculum) survive it
            # and accumulate in the one local JVM until a
            # later query's aggregation starves (caught by the round-9
            # forced-fallback marathon: graph_pagerank died
            # AGGREGATE_OUT_OF_MEMORY at query 192-minus-handful but
            # passes solo). Unpersist leftover RDDs and nudge the
            # ContextCleaner so broadcast blocks actually free.
            # blocking=True: the default non-blocking unpersist may
            # still have block removal in flight when the GC nudge and
            # the next query run — block until the RDD blocks are
            # actually freed so the isolation is deterministic.
            for rdd in list(sc._jsc.getPersistentRDDs().values()):
                rdd.unpersist(True)
            # Python-side GC first: sc.broadcast handles (gram sets,
            # centroid matrices) are released to the ContextCleaner
            # only after the py4j reference drops, so collect() here
            # makes the System.gc() below actually free their blocks.
            import gc

            gc.collect()
            sc._jvm.System.gc()
        results[name] = out
        print(
            f"[{idx + 1}/{len(names)}] {name}: {out['status']}"
            + (f" rows={out.get('rows')} sec={out.get('sec')}" if out["status"] == "ok" else "")
            + (f" — {out.get('error', '')}" if out["status"] == "ERROR" else ""),
            flush=True,
        )
    # --only / --skip runs get their own record: a targeted audit must
    # never clobber the canonical whole-registry raw record
    import datetime

    full = not skip and not only
    suffix = "_partial" if not full else ""
    dst = os.path.join(
        REPO, ".bench_cache", f"audit_{os.path.basename(sf_dir)}{suffix}.json"
    )
    label = opts.get(
        "label",
        "forced_fallback"
        if os.environ.get("SMRF_BROADCAST_ROW_LIMIT")
        else "default",
    )
    # The run config is embedded in the raw record so the rebuild path
    # (--summarize-existing) never has to guess or fake it (ADVICE r10)
    record = {
        "sf_dir": sf_dir,
        "budget": budget,
        "date": datetime.date.today().isoformat(),
        "isolate": "--isolate" in sys.argv,
        "broadcast_row_limit": os.environ.get("SMRF_BROADCAST_ROW_LIMIT"),
        "results": results,
    }
    if full:
        record["label"] = label
    with open(dst, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    # full-registry sf10 runs refresh the committed summary so the
    # PLANS.md scale claims stay auditable from a fresh clone, and get
    # a preserved labeled copy so a later run under a different label
    # cannot clobber this one's raw evidence
    if os.path.basename(sf_dir) == "sf10" and full:
        keep = os.path.join(
            REPO, ".bench_cache", f"audit_sf10_{label}.json"
        )
        if os.path.realpath(keep) != os.path.realpath(dst):
            with open(keep, "w") as f:
                json.dump(record, f, indent=1)
                f.write("\n")
        update_committed_summary(record, label, record["date"], record["isolate"])
    n_err = sum(1 for r in results.values() if r["status"] == "ERROR")
    n_to = sum(1 for r in results.values() if r["status"] == "TIMEOUT")
    print(f"AUDIT: {len(results)} queries, {n_err} errors, {n_to} timeouts -> {dst}")
    sys.exit(1 if n_err else 0)


if __name__ == "__main__":
    main()
