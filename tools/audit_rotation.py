"""Generate the next round's AUDIT_SCHEDULE (catalog.py).

The external driver hash-audits the FIRST 50 entries of
__spark_entry__.queries() per round; the adapter orders them by
catalog.AUDIT_SCHEDULE (the public all_queries() stays in stable
registration order). This tool reads every CORRECTNESS_r*.json in the
repo root and prints a ready-to-paste 50-entry schedule:

1. entries that FAILED their most recent audit (a fix must be
   re-proven before anything else gets a slot),
2. oracle-bearing entries NEVER hash-audited, registration order
   (VERDICT r9 ask #2: corpus_pipeline_decontaminated registered
   after the r9 schedule froze and got no driver row — a late
   registration must always lead the next window, ahead of mere
   staleness AND ahead of the changed tier, so module-wide edits
   can never crowd a brand-new entry out),
3. entries whose IMPLEMENTATION CHANGED since the source snapshot in
   the ledger (VERDICT r8 "What's wrong" #1: the round-8 prefix
   rewires missed the driver window because pure last-audit-round
   staleness doesn't know about code edits — a rewired entry must
   never again wait out the rotation). "Changed" = the sha256 of the
   entry's spark_fn source + its oracle SQL + the full text of its
   DEFINING module + any operators/ modules the function imports
   differs from tools/audit_source_hashes.json (ADVICE r9 #2: the
   defining-module text catches edits to shared module-level helpers
   like spans.trim_runs that the fn-source hash misses),
4. everything else by last-audit round, oldest first.

The ledger is (re)written on every run: each scheduled entry's hash is
snapshotted NOW, because the code as of schedule generation is the
code the next driver window will audit (regenerate after any
late-round edit and the schedule self-corrects). Unscheduled entries
keep their previous snapshot; entries seen for the first time are
snapshotted so their NEXT edit trips the rule.

Entries registered with ``oracle=None`` normally DON'T get slots: the
driver records ``err: no_oracle`` plus a rows-only check for them, and
their real contracts are oracle-checked twin entries (planted-recall /
recall-floor / contract queries) — so a recurring window slot on them
is wasted. EXCEPTIONS, both at the head: a no-oracle entry that has
NEVER appeared in any driver window gets one slot (VERDICT r7 ask
#4), and one whose latest driver evidence would be MORE THAN 2 ROUNDS
OLD by the next round gets a refresh slot (VERDICT r9 ask #5: the
five r3-dated rows-only entries predate the r4-r6 similarity-module
refactors — rows-only re-evidence is one cheap slot each, every ~3
rounds).

Usage: python tools/audit_rotation.py [--no-ledger-update]
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import io
import json
import os
import re
import sys
import tokenize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WINDOW = 50
LEDGER = os.path.join(REPO, "tools", "audit_source_hashes.json")
_OPS_DIR = os.path.join(REPO, "dataengineer_job_scraper_etl_spark", "operators")


# Bumped when the hash recipe changes: old snapshots are then
# incomparable (every entry would read "changed" forever), so a
# version mismatch re-snapshots the whole ledger. SAFE only when the
# regeneration runs on a tree whose engine code is byte-identical to
# what the driver last audited (re-seeding audited=current is then
# exactly right); otherwise the round's genuinely-edited entries must
# be pinned by hand once (see the catalog comment for that round's
# window). The r12 bump was sequenced that way: v3 + re-seed landed
# as the round's FIRST commit, before any engine edit.
#   v1 (r9): fn source + oracle SQL + imported operators/ modules.
#   v2 (r10): + the entry's DEFINING module text (ADVICE r9 #2 —
#        module-level helpers like spans.trim_runs / oracle
#        builders are shared by entries whose own fn body never
#        moves).
#   v3 (r12): all Python texts normalized to their token stream with
#        COMMENT/NL dropped — a comment-only edit (e.g. documenting
#        an assumption next to the code it describes, ADVICE r11 #2)
#        cannot change what the driver executes, so it must not burn
#        an audit slot on a re-prove. Docstrings still count: they
#        are STRING tokens (runtime-visible objects), and the cheap
#        rule "only # comments and blank lines are free" needs no
#        AST special-casing.
HASH_VERSION = 3


def _normalize_py(text: str) -> str:
    """The v3 hash basis for Python source: the token stream with
    COMMENT and NL (non-logical newline, i.e. blank/continuation
    lines) tokens dropped. NEWLINE/INDENT/DEDENT stay, so code
    structure is fully pinned; only behavior-free edits normalize
    away. Unparseable text hashes raw (fail closed: a change is then
    always visible)."""
    try:
        toks = [
            (t.type, t.string)
            for t in tokenize.generate_tokens(io.StringIO(text).readline)
            if t.type not in (tokenize.COMMENT, tokenize.NL)
        ]
    except (tokenize.TokenError, IndentationError, SyntaxError):
        return text
    return "\x1f".join(f"{t}:{s}" for t, s in toks)


def entry_source_hash(q) -> str:
    """Hash of everything the driver's audit of this entry executes:
    the entry function's source, its oracle SQL, the FULL text of the
    module DEFINING the function (shared helpers, oracle-builder
    functions, module constants — ADVICE r9 #2), and of every
    operators/ module the function imports locally (so an edit to
    e.g. operators/prefix.py marks every prefix-riding entry changed,
    not just entries whose own body moved). All Python texts are
    comment-insensitive (v3, _normalize_py); the oracle SQL hashes
    raw."""
    src = inspect.getsource(q.spark_fn)
    parts = [_normalize_py(src), q.oracle or ""]
    try:
        def_path = inspect.getsourcefile(q.spark_fn)
        if def_path and os.path.exists(def_path):
            with open(def_path, encoding="utf-8") as f:
                parts.append(_normalize_py(f.read()))
    except TypeError:
        pass  # builtins/C-level callables have no source file
    mods = set(
        re.findall(
            r"from\s+dataengineer_job_scraper_etl_spark\.operators\.(\w+)",
            src,
        )
    )
    for mod in sorted(mods):
        path = os.path.join(_OPS_DIR, f"{mod}.py")
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                parts.append(_normalize_py(f.read()))
    return hashlib.sha256("\x00".join(parts).encode()).hexdigest()[:16]


def promote_audited_baselines(
    ledger: dict[str, dict], last_round: dict[str, int]
) -> None:
    """Advance each entry's audited baseline to its scheduled snapshot
    once driver evidence lands for a round PAST the snapshot's clock —
    the driver audited exactly the scheduled code, so edits made since
    then (and only those) should read as changed."""
    for n, row in ledger.items():
        sc = row.get("sched_clock")
        if sc is not None and last_round.get(n, 0) > sc:
            row["audited"] = row["scheduled"]


def plan_window(update_ledger: bool = False) -> dict:
    """Compute the next audit window. Returns a dict with the pick and
    the evidence snapshot it was derived from — importable by tests so
    the committed schedule can be checked against a regeneration
    whenever the clock is current (no new driver evidence landed)."""
    from dataengineer_job_scraper_etl_spark import catalog

    qs = catalog.all_queries()  # registration order
    names = [n for n, q in qs.items() if q.oracle is not None]
    skipped = [n for n, q in qs.items() if q.oracle is None]

    last_round: dict[str, int] = {}
    failed_latest: set[str] = set()
    rounds = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    for path in rounds:
        rnd = int("".join(c for c in os.path.basename(path) if c.isdigit()))
        with open(path, encoding="utf-8") as f:
            data = json.load(f)
        for name, rec in data.items():
            last_round[name] = max(rnd, last_round.get(name, 0))
            ok = all(
                rec.get(k) is not False
                for k in ("rows_match", "schema_match", "hash_match")
            ) and rec.get("err") in (None, "no_oracle")
            if not ok:
                failed_latest.add(name)
            elif name in failed_latest and last_round[name] == rnd:
                failed_latest.discard(name)  # later round went green

    # Ledger rows are {"audited": H_a, "scheduled": H_s, "sched_clock": N}:
    # H_a is the hash of the code the DRIVER LAST AUDITED (the baseline
    # the changed-rule compares against), H_s the hash snapshotted when
    # the entry was last picked into a window, N that window's clock.
    # H_a promotes to H_s automatically once driver evidence LANDS for
    # a round past N — so plan_window is idempotent within a round (a
    # mid-round regeneration can rewrite H_s freely without un-flagging
    # entries whose edits the driver has not yet re-proven; the r11
    # session hit exactly that: two generations in one round silently
    # dropped the 5 post-r10-edited entries from the window). Legacy
    # bare-string rows (format <= r10) migrate as audited == scheduled.
    ledger: dict[str, dict] = {}
    ledger_stale = False
    if os.path.exists(LEDGER):
        with open(LEDGER, encoding="utf-8") as f:
            raw = json.load(f)
        if raw.pop("__hash_version__", 1) != HASH_VERSION:
            # hash recipe changed: old snapshots are incomparable —
            # re-snapshot everything; this round's genuinely-edited
            # entries must be pinned by hand (catalog window comment)
            ledger_stale = True
        else:
            for k, v in raw.items():
                ledger[k] = (
                    v if isinstance(v, dict)
                    else {"audited": v, "scheduled": v, "sched_clock": None}
                )
    promote_audited_baselines(ledger, last_round)
    current = {n: entry_source_hash(qs[n]) for n in qs}
    changed = {
        n
        for n in names
        if n in ledger and ledger[n]["audited"] != current[n]
    }

    # Head slots for no-oracle entries: never seen (one-time, VERDICT
    # r7 ask #4) or evidence >2 rounds old by the NEXT round (refresh,
    # VERDICT r9 ask #5 — "no entry's driver evidence older than ~3
    # rounds", rows-only included).
    next_round = (
        max(
            (int("".join(c for c in os.path.basename(p) if c.isdigit()))
             for p in rounds),
            default=0,
        )
        + 1
    )
    no_oracle_head = [
        n
        for n in skipped
        if n not in last_round or next_round - last_round[n] > 2
    ]

    order = sorted(
        names,
        key=lambda n: (
            0 if n in failed_latest
            else 1 if n not in last_round  # late registrations lead
            else 2 if n in changed
            else 3,
            last_round.get(n, -1),
            names.index(n),
        ),
    )
    pick = no_oracle_head + order[: WINDOW - len(no_oracle_head)]

    if update_ledger:
        # Picked entries: snapshot the SCHEDULED hash now (this code is
        # what the next driver window audits; the audited baseline only
        # advances when that window's evidence lands). First-seen
        # entries: seed audited=current so their NEXT edit trips.
        clock = next_round - 1
        for n in qs:
            if n in pick:
                row = ledger.setdefault(n, {"audited": current[n]})
                row["scheduled"] = current[n]
                row["sched_clock"] = clock
            elif n not in ledger:
                ledger[n] = {
                    "audited": current[n],
                    "scheduled": current[n],
                    "sched_clock": clock,
                }
        out: dict = dict(sorted(ledger.items()))
        out["__hash_version__"] = HASH_VERSION
        with open(LEDGER, "w", encoding="utf-8") as f:
            json.dump(out, f, indent=1)
            f.write("\n")

    return {
        "pick": pick,
        "no_oracle_head": no_oracle_head,
        "failed_latest": failed_latest,
        "changed": changed,
        "last_round": last_round,
        "next_round": next_round,
        "names": names,
        "skipped": skipped,
        "ledger_stale": ledger_stale,
        "rounds": rounds,
    }


def main() -> int:
    update_ledger = "--no-ledger-update" not in sys.argv
    plan = plan_window(update_ledger=update_ledger)
    pick = plan["pick"]
    no_oracle_head = plan["no_oracle_head"]
    failed_latest = plan["failed_latest"]
    changed = plan["changed"]
    last_round = plan["last_round"]
    next_round = plan["next_round"]
    names = plan["names"]
    skipped = plan["skipped"]
    ledger_stale = plan["ledger_stale"]
    rounds = plan["rounds"]

    # The schedule's CLOCK (VERDICT r10 "What's wrong" #1): freshness
    # judgments above used evidence from rounds <= generated_after_round.
    # The moment the driver writes CORRECTNESS_r{N+1}.json, recomputing
    # "next round" from files ON DISK would make the committed window
    # head read as wasted slots — so the tests must evaluate the
    # schedule against THIS stamp, never against evidence that
    # postdates the schedule.
    print(
        "AUDIT_SCHEDULE_META = "
        f'{{"generated_after_round": {next_round - 1}}}'
    )
    print(
        f"# next AUDIT_SCHEDULE ({len(pick)} entries: "
        f"{len(no_oracle_head)} rows-only head (never-seen or "
        f"evidence >2 rounds old) {no_oracle_head} + oracle-bearing "
        f"rotation over {len(names)}; "
        f"{len(changed)} changed-since-snapshot"
        + (" [LEDGER RESET: hash recipe v%d — pin this round's edited"
           " entries by hand]" % HASH_VERSION if ledger_stale else "")
        + f"; {len(skipped)} no-oracle entries total;\n"
        f"# source rounds: {[os.path.basename(p) for p in rounds]})"
    )
    for n in pick:
        tag = (
            "rows-only head slot (never seen or stale evidence)"
            if n in no_oracle_head
            else "FAILED-LAST-AUDIT" if n in failed_latest
            else "never audited - leads (late registration)"
            if n not in last_round
            else "SOURCE-CHANGED since last snapshot" if n in changed
            else f"last r{last_round[n]}"
        )
        print(f'    "{n}",  # {tag}')
    return 0


if __name__ == "__main__":
    sys.exit(main())
