"""Un-skippable round-closing gate.

One command that a round's closing commit MUST come from:

    python tools/close_round.py <round_number> [--sf1-dir DIR]

It runs, in order, refusing to write ANY artifact on the first red:

1. ``tools/check_oracle.py`` over the FULL registry at sf0.01
   → ``CHECK_LOCAL_r{N}.json`` (only written if 0 failures)
2. the same check at sf0.001 in reliable mode: ``SPARK_CONF_DIR`` points
   at a temporary ``spark-defaults.conf`` that sets
   ``spark.checkpoint.dir``, so every materialization takes
   ``df.checkpoint()`` (writes no artifact)
3. ``tools/plan_audit.py --write`` (the unpartitioned-window invariant;
   regenerates PLANS.md at the full registry count). NOTE: PLANS.md is
   regenerated in place at this step even if a LATER gate goes red —
   it is derived-at-will metadata, not a round artifact; the CHECK_*
   files are the artifacts this tool guards.
4. the two plan-guard pytest modules (``tests/test_plans.py``,
   ``tests/test_registry_contract.py``), then the bronze router tests of
   both tiers, crash-restart and idempotent replay included, then both
   tiers of the stateful streaming family (the streaming-vs-batch
   agreement twins are slow-tier), then both tiers of the manifest-table,
   maintenance and incdedup modules (incremental join equals recompute;
   the incdedup probe pinned to its build generation)
5. the full oracle run at sf0.1 → ``CHECK_SF01_r{N}.json``. NOT optional:
   the round-12 judge proved this scale is a distinct witness —
   `gains_chart_stopword` was green at sf0.01 AND synthetic sf≈1 yet
   engine-divergent at sf0.1, because tie-run sizes and quantile-boundary
   positions move with n; one (or two) scales cannot witness them all.
   Skip only with ``--skip-sf01`` for partial dry-runs — a round-closing
   commit must not carry that flag.
6. a registry-vs-artifact count check: every artifact it just wrote must
   list exactly the registered query count — the drift this tool exists to
   prevent (rounds 8-9 shipped artifacts 14 queries short of the registry).
7. optionally (``--sf1-dir``): the full oracle run at a synthetic sf≈1
   directory (built with ``tools/make_scale.py``) → ``CHECK_SF1_r{N}.json``.
8. the SHUFFLE-REGRESSION gate: ``tools/shuffle_audit.py --json`` over the
   bench HEADLINE roster at sf0.1, diffed against the NEWEST prior
   ``SHUFFLES_r{M}.json`` via ``shuffle_audit.diff_books`` — red past the
   documented broadcast/shuffle-row tolerances. This automates the manual
   sf≈10 audit that caught corpus-growing AQE auto-broadcasts by hand in
   rounds 12 AND 13 (3,168 / 276 / 105 MiB); a pin reverted anywhere in
   the roster now fails the round instead of shipping silently. Writes
   ``SHUFFLES_r{N}.json`` on green (first run establishes the baseline).
   ``--skip-shuffles`` for partial dry-runs only.

Exit 0 means: artifacts written, counts agree, safe to commit. Any other
exit means the round is NOT closable; fix the red and re-run — no CHECK
artifact is ever written or left behind on a red (writes go to temp names,
ALL of which are removed on any failure, renamed together only at the
green end).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, ".")

USAGE = ("usage: python tools/close_round.py <round_number> "
         "[--sf1-dir DIR] [--skip-sf01]")


#: temp artifact paths created so far — removed TOGETHER on any red, so a
#: failure can never leave one stage's tmp behind while unlinking another's
_TMPS: list[str] = []


def _cleanup_tmps() -> None:
    for t in _TMPS:
        if os.path.exists(t):
            os.unlink(t)


def run(desc: str, cmd: list[str]) -> None:
    print(f"\n=== close_round: {desc}\n    $ {' '.join(cmd)}", flush=True)
    r = subprocess.run(cmd)
    if r.returncode != 0:
        _cleanup_tmps()
        print(f"\nclose_round: RED at '{desc}' (exit {r.returncode}) — "
              "no artifacts written, round NOT closable")
        raise SystemExit(r.returncode or 1)


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    if not args:
        print(USAGE)
        return 2
    rnd = int(args[0])
    sf1_dir = None
    if "--sf1-dir" in sys.argv:
        i = sys.argv.index("--sf1-dir")
        if i + 1 >= len(sys.argv):
            print(USAGE)
            return 2
        sf1_dir = sys.argv[i + 1]

    from __spark_entry__ import SMOKE_SF_DIR
    from streamroom_bigdata_spark import registry

    n_registered = len(registry.queries())
    print(f"close_round: round {rnd}, {n_registered} registered queries")

    local_json = f"CHECK_LOCAL_r{rnd}.json"
    tmp_local = local_json + ".tmp"
    _TMPS.append(tmp_local)
    run(
        "full oracle gate at sf0.01",
        [sys.executable, "tools/check_oracle.py", "/root/testdata/sf0.01",
         "--json", tmp_local],
    )
    with tempfile.TemporaryDirectory() as conf_dir:
        with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
            f.write(f"spark.checkpoint.dir {os.path.join(conf_dir, 'ckpt')}\n")
        run(
            "oracle gate at sf0.001, reliable checkpoints",
            ["env", f"SPARK_CONF_DIR={conf_dir}", sys.executable,
             "tools/check_oracle.py", SMOKE_SF_DIR],
        )
    run("plan audit (+ PLANS.md regeneration)",
        [sys.executable, "tools/plan_audit.py", "--write"])
    run("plan-guard pytest modules",
        [sys.executable, "-m", "pytest", "tests/test_plans.py",
         "tests/test_registry_contract.py", "-x", "-q",
         # override pytest.ini's fast-tier default: the 378-query plan
         # guards are marked slow, and close_round must run them
         "-m", "slow or not slow"])
    run("bronze router pytest tests, both tiers",
        [sys.executable, "-m", "pytest", "tests/test_streaming.py",
         "tests/test_table_catalog.py", "-x", "-q", "-m", "slow or not slow",
         "-k", "router or route_batch or bronze"])
    run("stateful streaming pytest tests, both tiers",
        [sys.executable, "-m", "pytest", "tests/test_streaming.py", "-x",
         "-q", "-m", "slow or not slow",
         "-k", "stateful or cusum or holt or pack or latch or psi or funnel "
         "or sessioniz or apply_in_pandas or tws"])
    run("stream-static and streaming sketch pytest modules, both tiers",
        [sys.executable, "-m", "pytest", "tests/test_stream_static.py",
         "tests/test_streaming_sketches.py", "-x", "-q",
         "-m", "slow or not slow"])
    run("manifest table, maintenance and incdedup pytest, both tiers",
        [sys.executable, "-m", "pytest", "tests/test_manifest_table.py",
         "tests/test_maintenance.py", "tests/test_incdedup.py", "-x", "-q",
         "-m", "slow or not slow"])

    if "--skip-shuffles" not in sys.argv:
        import glob as _glob
        import re as _re

        from tools.shuffle_audit import check_pins, diff_books

        shuf_json = f"SHUFFLES_r{rnd}.json"
        tmp_shuf = shuf_json + ".tmp"
        _TMPS.append(tmp_shuf)
        run(
            "shuffle-regression audit (HEADLINE roster at sf0.1)",
            [sys.executable, "tools/shuffle_audit.py",
             "/root/testdata/sf0.1", "--json", tmp_shuf],
        )
        priors = {}
        for p in _glob.glob("SHUFFLES_r*.json"):
            m = _re.match(r"SHUFFLES_r(\d+)\.json$", os.path.basename(p))
            if m and int(m.group(1)) < rnd:
                priors[int(m.group(1))] = p
        if priors:
            prior_path = priors[max(priors)]
            with open(prior_path) as f:
                prev = json.load(f)["queries"]
            with open(tmp_shuf) as f:
                cur = json.load(f)["queries"]
            bad = diff_books(prev, cur)
            # absolute pins (round 16): revert-proof upper bounds for the
            # shared-subtree wins — red even when BOTH books carry the
            # reverted shape
            bad += check_pins(cur)
            if bad:
                print(f"close_round: RED — shuffle regression vs "
                      f"{prior_path}:")
                for b in bad:
                    print(f"  {b}")
                _cleanup_tmps()
                return 1
            print(f"close_round: shuffle books within tolerance of "
                  f"{prior_path} (absolute pins green)")
        else:
            print(f"close_round: no prior SHUFFLES_r*.json — {shuf_json} "
                  "establishes the baseline")
        # deferred like every other artifact: renamed only at the green end
        shuffle_pending = [(tmp_shuf, shuf_json)]
    else:
        shuffle_pending = []

    pending = [(tmp_local, local_json)]
    if "--skip-sf01" not in sys.argv:
        sf01_json = f"CHECK_SF01_r{rnd}.json"
        tmp_sf01 = sf01_json + ".tmp"
        _TMPS.append(tmp_sf01)
        run(
            "full oracle gate at sf0.1 (the round-12 gains_chart scale hole)",
            [sys.executable, "tools/check_oracle.py", "/root/testdata/sf0.1",
             "--json", tmp_sf01],
        )
        pending.append((tmp_sf01, sf01_json))
    if sf1_dir:
        sf1_json = f"CHECK_SF1_r{rnd}.json"
        tmp_sf1 = sf1_json + ".tmp"
        _TMPS.append(tmp_sf1)
        run(f"full oracle gate at {sf1_dir}",
            [sys.executable, "tools/check_oracle.py", sf1_dir,
             "--json", tmp_sf1])
        pending.append((tmp_sf1, sf1_json))

    # count check: an artifact short of the registry is the two-round-old
    # drift this tool exists to prevent
    for tmp, final in pending:
        with open(tmp) as f:
            n = len(json.load(f))
        if n != n_registered:
            print(f"close_round: RED — {final} has {n} queries, registry has "
                  f"{n_registered}; NO artifact written")
            _cleanup_tmps()
            return 1
    # driver-sample drift check: every query name the driver EVER sampled
    # (CORRECTNESS_r*.json keys) must still exist in the registry — a
    # rename would silently shrink the driver's 50-query signal next round
    # (it samples by name from queries() ∩ history) with no red anywhere.
    import glob

    reg_names = set(registry.queries())
    for path in sorted(glob.glob("CORRECTNESS_r*.json")):
        with open(path) as f:
            sampled = set(json.load(f))
        gone = sorted(sampled - reg_names)
        if gone:
            print(f"close_round: RED — {path} sampled queries no longer "
                  f"registered (rename/removal?): {gone}")
            _cleanup_tmps()
            return 1

    with open("PLANS.md") as f:
        n_plan_rows = sum(1 for line in f if line.startswith("| ") and
                          not line.startswith("| query") and
                          not line.startswith("| ---"))
    if n_plan_rows != n_registered:
        print(f"close_round: RED — PLANS.md has {n_plan_rows} rows, registry "
              f"has {n_registered}")
        _cleanup_tmps()
        return 1

    for tmp, final in pending + shuffle_pending:
        os.replace(tmp, final)
        print(f"close_round: wrote {final}")
    print(f"close_round: GREEN — round {rnd} closable "
          f"({n_registered} queries, all gates passed)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
