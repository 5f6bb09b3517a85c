"""Full-registry plan-digest witness (VERDICT r11 ask #5).

bench.py's ``plan_digest`` covers the 18 headline queries; the rest of
the registry had no drift witness. This tool normalizes and
hashes EVERY registered query's formatted physical plan (initial,
pre-AQE — a pure code+optimizer witness, no execution) using the exact
normalizer tools/plan_diff.py applies to PLANS.md, and maintains the
committed per-query digest map ``tools/registry_digests.json``.

tests/test_registry_digest.py runs the check in the suite, so plan
drift cannot land without regenerating (and thereby reviewing) the map.

Digests are computed against the canonical correctness-gate scale
factor (sf0.01); the sf directory path is normalized out of the plan
text so the digest witnesses plan STRUCTURE, not the test host's
layout. Pre-AQE plans can legitimately differ across scale factors
(file-size stats drive broadcast planning), which is why the committed
map pins one canonical sf rather than claiming sf-independence.

Usage:
  python tools/registry_digest.py            # check vs committed map
  python tools/registry_digest.py --write    # regenerate the map
  python tools/registry_digest.py NAME ...   # check a subset
Exit 0 = no drift; 1 = drift / missing entries (check mode).
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIGEST_FILE = os.path.join(REPO, "tools", "registry_digests.json")
# HARD-pinned (not SPARK_GRAFT_VERIFY_SF_DIR): pre-AQE plans can differ
# across scale factors (file-size-driven broadcast planning), so the
# committed map is only meaningful at ONE sf — a verify-env override
# leaking in would turn the suite gate red for everyone (review r12).
# SPARK_GRAFT_DIGEST_SF_DIR exists for deliberate experiments only.
CANONICAL_SF_DIR = os.environ.get(
    "SPARK_GRAFT_DIGEST_SF_DIR", "/root/testdata/sf0.01"
)

# Bumped whenever _normalize's rules change: digests computed under
# different normalizer versions are not comparable, so a cross-version
# comparison is "no evidence" rather than drift.
NORMALIZER_VERSION = 2
_META_KEY = "__normalizer_version__"


def _normalize(plan_text: str, sf_dir: str) -> str:
    """Canonicalize a formatted plan for DIGESTING (stricter than
    plan_diff's human-readable normalizer, which this builds on):

    - test-host layout out: the sf dir and the per-application managed
      scratch root (scratch.py) become fixed tokens, so round-trip/
      write-audit queries digest identically across sessions;
    - within-line token order out: RewriteDistinctAggregates emits its
      Expand projection groups in nondeterministic order (expression-id-
      dependent set iteration), so each line is reduced to its SORTED
      token multiset;
    - whole-plan line order out: lines are sorted before hashing.

    Trade-off, documented: a pure reordering of identical nodes would
    collide — acceptable for a drift witness, because real plan changes
    (operator added/removed, join strategy flipped, pushdown lost,
    column set changed) always change line CONTENT, which this keeps.
    """
    from tools.plan_diff import _norm

    text = plan_text.replace(sf_dir.rstrip("/"), "<SFDIR>")
    text = re.sub(r"/root/testdata/sf[0-9.]+", "<SFDIR>", text)
    text = re.sub(r"\S*spark_graft_scratch_[^\s/\]]*", "<SCRATCH>", text)
    # scratch callers scope paths AND catalog table names with
    # md5(sf_dir|applicationId)[:8] — session-varying by design
    # (process isolation); not plan structure
    text = re.sub(r"<SCRATCH>/[0-9a-f]{8}(/|\b)", r"<SCRATCH>/<TAG>\1", text)
    text = re.sub(r"_ba_[0-9a-f]{8}\b", "_ba_<TAG>", text)
    # localCheckpoint scans print the session-global RDD id and the py4j
    # call site ("MapPartitionsRDD[15] at localCheckpoint at
    # NativeMethodAccessorImpl.java:0" — id counts every prior job in the
    # session; the call-site string differs per JVM accessor generation)
    text = re.sub(r"PartitionsRDD\[\d+\]", "PartitionsRDD[N]", text)
    text = re.sub(r" at (\w+) at [\w.<>$]+:\d+", r" at \1 at <CALLSITE>:0", text)
    lines = []
    for line in _norm(text):
        tokens = re.findall(r"[\w#<>.$@:/+-]+", line)
        lines.append(" ".join(sorted(tokens)))
    return "\n".join(sorted(lines))


def digest_of_plan(name: str, plan_text: str, sf_dir: str) -> str:
    """Digest from an ALREADY-formatted plan — the shared entry point for
    query_digest and for the test suite's one-pass registry_plans
    fixture (which explains every query once and feeds four gates)."""
    h = hashlib.sha256()
    h.update(name.encode())
    h.update(_normalize(plan_text, sf_dir).encode())
    return h.hexdigest()[:16]


def plan_text_of(spark, spec, sf_dir: str) -> str:
    df = spec.builder(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def query_digest(spark, spec, sf_dir: str) -> str:
    return digest_of_plan(spec.name, plan_text_of(spark, spec, sf_dir), sf_dir)


def compute_digests(spark, names=None, sf_dir: str = CANONICAL_SF_DIR) -> dict:
    """name -> digest for ``names`` (default: the whole registry)."""
    # strict imports ONLY for the all_specs() call — a permanent
    # os.environ.setdefault here leaked into the pytest process and
    # broke the lenient-mode import test when ordered after this
    # (review r12); save/restore instead.
    key = "SPARK_GRAFT_STRICT_IMPORTS"
    prev = os.environ.get(key)
    os.environ[key] = prev or "1"
    try:
        from fitness_nutrition_data_pipeline_spark.queries import all_specs

        specs = all_specs()
    finally:
        if prev is None:
            os.environ.pop(key, None)
        else:
            os.environ[key] = prev
    wanted = list(names) if names else sorted(specs)
    # Exchange nodes print the shuffle partition count, so the digest is
    # only canonical under one config — pin it for the computation and
    # restore the caller's (the test suite runs at shuffle_partitions=8)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        return {n: query_digest(spark, specs[n], sf_dir) for n in wanted}
    finally:
        spark.conf.set(key, prev)


def load_committed() -> dict:
    """Committed name→digest map, WITHOUT the meta key."""
    raw = load_committed_raw()
    return {k: v for k, v in raw.items() if not k.startswith("__")}


def load_committed_raw() -> dict:
    if not os.path.exists(DIGEST_FILE):
        return {}
    with open(DIGEST_FILE) as f:
        return json.load(f)


def subset_write_refusal(names) -> str | None:
    """A subset --write MERGES into the committed map, so the two must
    share normalizer rules — after a normalizer bump, a partial --write
    would silently stamp the current version over stale v(N-1) digests,
    producing false drift/unchanged verdicts (ADVICE r12 #2). Returns
    the refusal message, or None when the write may proceed. Checked
    BEFORE any digest computation (no Spark needed to refuse)."""
    if names is None:
        return None
    raw = load_committed_raw()
    if not {k: v for k, v in raw.items() if not k.startswith("__")}:
        return None
    committed_ver = raw.get(_META_KEY)
    if committed_ver != NORMALIZER_VERSION:
        return (
            f"REFUSED: committed map was written at normalizer "
            f"v{committed_ver}, tool is v{NORMALIZER_VERSION} — a "
            f"subset --write would mislabel stale digests. Run a "
            f"full `--write` (no names) to regenerate everything."
        )
    return None


def main() -> int:
    args = sys.argv[1:]
    write = "--write" in args
    names = [a for a in args if not a.startswith("--")] or None

    if write:
        refusal = subset_write_refusal(names)
        if refusal:
            print(refusal)
            return 1

    from fitness_nutrition_data_pipeline_spark.session import get_spark

    spark = get_spark("registry_digest")
    current = compute_digests(spark, names)

    if write:
        committed = load_committed()
        committed.update(current)
        if names is None:
            # full regeneration also drops unregistered leftovers
            committed = current
        out = {_META_KEY: NORMALIZER_VERSION}
        out.update(dict(sorted(committed.items())))
        with open(DIGEST_FILE, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
        print(f"wrote {len(committed)} digests to {DIGEST_FILE} "
              f"(normalizer v{NORMALIZER_VERSION})")
        return 0

    committed_ver = load_committed_raw().get(_META_KEY)
    if committed_ver not in (None, NORMALIZER_VERSION):
        print(f"NORMALIZER MISMATCH: map written at v{committed_ver}, tool is "
              f"v{NORMALIZER_VERSION} — regenerate with --write")
        return 1
    committed = load_committed()
    drifted = [
        n for n, d in current.items() if committed.get(n) not in (None, d)
    ]
    missing = [n for n in current if n not in committed]
    stale_entries = (
        [n for n in committed if n not in current] if names is None else []
    )
    for n in drifted:
        print(f"DRIFT {n}: committed {committed[n]} != current {current[n]}")
    for n in missing:
        print(f"MISSING {n}: not in committed map (run --write)")
    for n in stale_entries:
        print(f"STALE {n}: committed but no longer registered")
    ok = len(current) - len(drifted) - len(missing)
    print(
        f"{ok} unchanged, {len(drifted)} drifted, {len(missing)} missing, "
        f"{len(stale_entries)} stale of {len(current)} checked"
    )
    return 1 if (drifted or missing or stale_entries) else 0


if __name__ == "__main__":
    raise SystemExit(main())
