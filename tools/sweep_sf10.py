"""100x rung, UNIFIED (round 7): one command, one JSON artifact, zero
bare exclusions.

Round 5 introduced the strict full-registry sf10 sweep with documented
exclusions; round 6 added positive signals for every exclusion but left
them in two other tools (verify_fingerprint.py, engine_check_sf10.py),
so demonstrating "full registry at 100x" took three commands and
hand-assembly (r6 verdict, What's wrong #4). This version invokes all
three tiers itself and writes a per-round, diffable artifact the way
CORRECTNESS_rN.json already works at sf0.01:

  tier 1  strict     verify_local.py value-diff vs the DuckDB oracle
                     (the default for every registry query)
  tier 2  fingerprint verify_fingerprint.py — both engines reduce the
                     SAME result relation to per-column COUNT/SUM/md5
                     fingerprints (raw-dump queries whose sf10 output
                     is tens of millions of rows: the strict compare
                     would measure collect+canon, not engine work)
  tier 3  invariant  engine_check_sf10.py — in-engine A19-style
                     invariant re-verification (queries whose DuckDB
                     ORACLE is structurally quadratic at 100x:
                     recursive-CTE connected components, materialized
                     wedge joins — an oracle limit, not an engine one)

plus exactly one REASONED exclusion (dedup_minhash_recall: the
ground-truth side is an audit-only sample x corpus exact verify,
quadratic BY INTENT on both engines; the production machinery it
audits is tier-1-swept; value-exact through sf0.1).

Usage:
  python -u tools/sweep_sf10.py [sf_dir] [--out SWEEP_SF10_rN.json]
      (default sf_dir /tmp/sf10_seed42; default --out sweep_sf10.json)

Prints one line per query and writes {"per_query": {name: {"status":
PASS|PASS-fingerprint|PASS-invariant|FAIL|EXCLUDED, "sec": s,
"reason": ...}}, "tally": {...}}.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# tier-2: raw-dump queries -> aggregate-fingerprint verification
FINGERPRINT = {
    "scan_parquet": "34M-row raw scan dump at sf10 (collect+canon cost)",
    "scan_text_corpus": "raw corpus dump",
    "scan_binary_records": "raw corpus dump",
    "scan_thrift_records": "raw corpus dump",
    "join_asof": "10M-row per-event dump",
    "join_asof_tolerance": "10M-row per-event dump",
    "join_asof_nearest": "10M-row per-event dump",
    "join_outer": "15M-row dump",
    "join_outer_full": "15M-row dump",
    "ws_tokenize": "~50M token-row dump",
    "math_funcs": "60M-row scalar dump (3.3 GiB driver collect)",
    "udf_scalar": "60M-row scalar dump",
}

# tier-3: oracle-side quadratics -> in-engine invariant checks
# (engine_check_sf10.py block name, reason)
ENGINE_CHECK = {
    "dedup_clusters": (
        "clusters",
        "DuckDB oracle replays label propagation as a recursive "
        "reachability CTE — quadratic rows per planted mega-cluster "
        "(>90 GB at 100x); engine check: extra iteration changes zero "
        "labels, every edge connects same-label nodes, the class-twin "
        "implementation reproduces the pair-form labels",
    ),
    "dedup_keep_best": (
        "clusters",
        "same recursive-CTE oracle limit as dedup_clusters; covered by "
        "the same invariant block",
    ),
    "dedup_embed_cosine": (
        "embed_cosine",
        "raw near-dup PAIR dump ~10M rows at sf10, oracle-side pair "
        "materialization >80 GB RSS; census twin is tier-1-swept",
    ),
    "dedup_semantic": (
        "semantic",
        "fixed-k fixture out-of-contract above ~10x by design; "
        "dedup_semantic_scaledk is the in-contract form and is "
        "tier-1-swept; fixed-k checked at its sf1 contract boundary",
    ),
    "graph_link_prediction": (
        "link_prediction",
        "DuckDB oracle materializes the co-purchase self-join + full "
        "wedge join before aggregating (>60 GB spill at sf10, disk "
        "exhaustion); engine invariants: candidates never existing "
        "edges, common > 0, jaccard <= 1000 permille",
    ),
}

# reasoned exclusions (still named in the artifact, never silent)
EXCLUDED = {
    "dedup_method_agreement": (
        "oracle-side limit measured this round: DuckDB materializes "
        "BOTH full dedup pipelines (minhash bands + simhash) for the "
        "agreement matrix and was OOM-killed at 86 GB RSS at sf10 "
        "(dmesg autopsy in SCALE.md r7); the engine-side machinery is "
        "the SAME _minhash_core/simhash paths tier-1-swept via "
        "dedup_minhash and dedup_simhash; value-exact through sf0.1"
    ),
    "dedup_minhash_recall": (
        "audit-only recall measurement: ground truth is a sample x "
        "corpus exact-Jaccard verify, quadratic BY INTENT on both "
        "engines (50k x 500k set intersections at sf10); the candidate "
        "machinery it audits (dedup_minhash family) is tier-1-swept; "
        "value-exact through sf0.1"
    ),
}

CHUNK = 12
PASS_RE = re.compile(r"^\[(PASS|WEAK|FAIL)\] (\S+?)(?::| )(.*)$")
SEC_RE = re.compile(r"(\d+(?:\.\d+)?)s\)")


def _flush(
    out_path: str,
    sf_dir: str,
    t0: float,
    per_query: dict,
    complete: bool = False,
    registry: set | None = None,
) -> dict:
    """Merge ``per_query`` into any artifact already on disk and write —
    called after EVERY chunk and tier, so a killed sweep keeps its
    completed results (round-7 lesson: a 4-hour sweep that only writes
    at exit loses everything to a deadline). Successive partial runs —
    including ``--only`` catch-ups — accumulate into one artifact.
    Hygiene (r7 ADVICE sweep_sf10.py:124): merged rows are dropped when
    (a) the on-disk artifact was produced against a DIFFERENT sf_dir
    (results from another rung must not masquerade as this one), or
    (b) ``registry`` is given (full runs) and a merged name is no longer
    in the live registry — renamed/removed queries can't inflate the
    tally or ride into a ``complete: true`` stamp."""
    merged: dict = {}
    if os.path.exists(out_path):
        try:
            with open(out_path) as fh:
                prior = json.load(fh)
            if prior.get("sf_dir", sf_dir) == sf_dir:
                merged = prior.get("per_query", {})
            else:
                print(
                    f"[sweep] discarding on-disk rows for sf_dir="
                    f"{prior.get('sf_dir')!r} (this run: {sf_dir!r})",
                    flush=True,
                )
        except Exception:
            merged = {}
    merged.update(per_query)
    if registry is not None:
        merged = {k: v for k, v in merged.items() if k in registry}
        # r8 verdict (What's wrong #1): a sweep must not stamp itself
        # complete while any registry name is silently absent — tally
        # size == registry size or the artifact stays complete: false.
        if complete:
            missing = sorted(registry - set(merged))
            if missing:
                print(
                    f"[sweep] REFUSING complete: {len(missing)} registry "
                    f"names have no row: {missing}",
                    flush=True,
                )
                complete = False
    statuses = [v["status"] for v in merged.values()]
    tally = {
        "n_queries": len(merged),
        "pass_strict": statuses.count("PASS"),
        "pass_fingerprint": statuses.count("PASS-fingerprint"),
        "pass_invariant": statuses.count("PASS-invariant"),
        "excluded_reasoned": statuses.count("EXCLUDED"),
        "fail": statuses.count("FAIL"),
    }
    artifact = {
        "sf_dir": sf_dir,
        "elapsed_sec": round(time.time() - t0, 1),
        "complete": complete,
        "tally": tally,
        "per_query": dict(sorted(merged.items())),
    }
    tmp = out_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(artifact, fh, indent=1)
    os.replace(tmp, out_path)
    return tally


def _run(cmd: list[str]) -> str:
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    text = (r.stdout + r.stderr).replace("\r", "\n")
    # drop progress-bar/log noise so FAIL `detail` tails carry the actual
    # error, not 300 bytes of spinner (r8 verdict, What's wrong #1)
    lines = [
        ln
        for ln in text.splitlines()
        if ln.strip()
        and "[Stage " not in ln
        and not ln.lstrip().startswith(("WARNING:", "Using Spark", "Setting default log level", "To adjust logging"))
    ]
    return "\n".join(lines)


def main() -> int:
    args = [a for a in sys.argv[1:]]
    out_path = "sweep_sf10.json"
    limit = None  # --limit N: smoke-test the plumbing on N strict names
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i : i + 2]
    if "--limit" in args:
        i = args.index("--limit")
        limit = int(args[i + 1])
        del args[i : i + 2]
    only = None  # --only a b c: catch-up mode, merges into --out
    if "--only" in args:
        i = args.index("--only")
        only = args[i + 1 :]
        del args[i:]
    resume = "--resume" in args  # skip names already green in --out
    if resume:
        args.remove("--resume")
    sf_dir = args[0] if args else "/tmp/sf10_seed42"
    t0 = time.time()

    import __spark_entry__ as m

    all_names = sorted(m.queries())
    registry = set(all_names)
    done: set[str] = set()
    if resume:
        if os.path.exists(out_path):
            try:
                with open(out_path) as fh:
                    prior = json.load(fh)
                if prior.get("sf_dir") == sf_dir:
                    done = {
                        k
                        for k, v in prior.get("per_query", {}).items()
                        if str(v.get("status", "")).startswith(
                            ("PASS", "EXCLUDED")
                        )
                    }
            except Exception:
                done = set()
        print(f"[sweep] resume: skipping {len(done)} already-green names",
              flush=True)
    fp_names = dict(FINGERPRINT)
    ec_names = dict(ENGINE_CHECK)
    ex_names = dict(EXCLUDED)
    if only is not None:
        keep = set(only)
        all_names = [n for n in all_names if n in keep]
        fp_names = {k: v for k, v in fp_names.items() if k in keep}
        ec_names = {k: v for k, v in ec_names.items() if k in keep}
        ex_names = {k: v for k, v in ex_names.items() if k in keep}
    if done:
        all_names = [n for n in all_names if n not in done]
        fp_names = {k: v for k, v in fp_names.items() if k not in done}
        ec_names = {k: v for k, v in ec_names.items() if k not in done}
        ex_names = {k: v for k, v in ex_names.items() if k not in done}
    # registry pruning applies to full-scope runs only; --only catch-ups
    # merge into an artifact whose other rows they must not disturb
    reg = registry if only is None else None
    tier23 = set(fp_names) | set(ec_names) | set(ex_names)
    strict = [n for n in all_names if n not in tier23]
    if limit is not None:
        strict = strict[:limit]
        all_names = strict + sorted(tier23)
    per_query: dict[str, dict] = {}

    print(
        f"sweeping {len(all_names)} queries at {sf_dir}: "
        f"{len(strict)} strict, {len(fp_names)} fingerprint, "
        f"{len(ec_names)} invariant, {len(ex_names)} reasoned-excluded",
        flush=True,
    )

    # ---- tier 1: strict value-diff, chunked so progress survives ----
    for i in range(0, len(strict), CHUNK):
        chunk = strict[i : i + CHUNK]
        text = _run(
            [sys.executable, "-u", "tools/verify_local.py", sf_dir, *chunk]
        )
        seen = set()
        for ln in text.splitlines():
            mt = PASS_RE.match(ln)
            if not mt:
                continue
            status, name = mt.group(1), mt.group(2)
            sec = SEC_RE.search(ln)
            per_query[name] = {
                "status": "PASS" if status in ("PASS", "WEAK") else "FAIL",
                "tier": "strict",
                "sec": float(sec.group(1)) if sec else None,
            }
            if status == "FAIL":
                per_query[name]["detail"] = ln[:500]
            seen.add(name)
            print(f"[{per_query[name]['status']}] {name}", flush=True)
        for name in chunk:
            if name not in seen:
                per_query[name] = {
                    "status": "FAIL",
                    "tier": "strict",
                    "detail": f"no verdict line (chunk crash?) {text[-300:]}",
                }
                print(f"[FAIL] {name} — no verdict line", flush=True)
        _flush(out_path, sf_dir, t0, per_query, registry=reg)

    # ---- tier 2: aggregate fingerprints ----
    text = (
        _run(
            [
                sys.executable,
                "-u",
                "tools/verify_fingerprint.py",
                sf_dir,
                *fp_names,
            ]
        )
        if fp_names
        else ""
    )
    for ln in text.splitlines():
        mt = PASS_RE.match(ln)
        if not mt:
            continue
        status, name = mt.group(1), mt.group(2)
        if name not in fp_names:
            continue
        sec = SEC_RE.search(ln)
        per_query[name] = {
            "status": "PASS-fingerprint" if status == "PASS" else "FAIL",
            "tier": "fingerprint",
            "sec": float(sec.group(1)) if sec else None,
            "reason": fp_names[name],
        }
        if status == "FAIL":
            per_query[name]["detail"] = ln[:500]
        print(f"[{per_query[name]['status']}] {name}", flush=True)
    for name in fp_names:
        if name not in per_query:
            per_query[name] = {
                "status": "FAIL",
                "tier": "fingerprint",
                "detail": f"no verdict line {text[-300:]}",
            }
            print(f"[FAIL] {name} — no fingerprint verdict", flush=True)
    _flush(out_path, sf_dir, t0, per_query, registry=reg)

    # ---- tier 3: in-engine invariant blocks ----
    # the `semantic` block's operator contract ends at ~10x (fixed-k
    # fixture); its invariants run at the sf1 contract boundary, the
    # other blocks at the sweep's own sf_dir (r9: previously the sweep
    # would have run semantic at sf10, contradicting its own reason)
    semantic_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1_seed42")
    blocks = sorted({b for b, _ in ec_names.values()})
    text = ""
    tally_ok = True
    block_ok = {}
    for run_dir, run_blocks in (
        (sf_dir, [b for b in blocks if b != "semantic"]),
        (semantic_dir, [b for b in blocks if b == "semantic"]),
    ):
        if not run_blocks:
            continue
        t = _run(
            [sys.executable, "-u", "tools/engine_check_sf10.py",
             run_dir, *run_blocks]
        )
        text += t
        for b in run_blocks:
            # a block is green iff its section ran and the final tally
            # has zero failures; engine_check prints per-assert
            # [ok]/[FAIL]
            block_ok[b] = f"... {b} block took" in t
        tally_ok = tally_ok and bool(
            re.search(r"engine-check: \d+ pass, 0 fail", t)
        )
    for name, (block, reason) in ec_names.items():
        ok = tally_ok and block_ok.get(block, False)
        per_query[name] = {
            "status": "PASS-invariant" if ok else "FAIL",
            "tier": "invariant",
            "reason": reason,
        }
        if not ok:
            per_query[name]["detail"] = text[-500:]
        print(f"[{per_query[name]['status']}] {name}", flush=True)
    _flush(out_path, sf_dir, t0, per_query, registry=reg)

    # ---- reasoned exclusions ----
    for name, reason in ex_names.items():
        per_query[name] = {
            "status": "EXCLUDED",
            "tier": "excluded",
            "reason": reason,
        }
        print(f"[EXCLUDED] {name} — {reason[:80]}...", flush=True)

    # names in the registry but in no tier (should be impossible)
    for name in all_names:
        per_query.setdefault(
            name, {"status": "FAIL", "detail": "covered by no tier"}
        )

    tally = _flush(out_path, sf_dir, t0, per_query, complete=True,
                   registry=reg)
    print(f"\nsf10 rung: {tally}", flush=True)
    print(f"wrote {out_path}", flush=True)
    return 1 if tally["fail"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
