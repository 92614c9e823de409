#!/usr/bin/env python3
"""Compare two `graft.Bench plan` dump directories query by query.

Usage: python3 tools/diff_plans.py <dirA> <dirB>

Each directory holds `<query>_<suffix>.txt` formatted plans, as
`graft.Bench plan <tag> <suffix> <query>...` writes them to
`<checkout>/plans/<tag>/`. Files pair by query name (the file name minus
its last `_<suffix>`), so a parent dump and a change dump taken under
different suffixes still pair. Before comparing, every plan is masked
of what differs run to run or edit to edit with the same plan:
expression ids (`#\\d+`), Spark's exchange-id counter (`plan_id=\\d+`,
which AQE re-planning advances), RDD ids (`RDD[\\d+]`, counting every
RDD the JVM made before, earlier queries' timed runs included), the
source line of a checkpoint's call site (`File.scala:\\d+`, which any
edit above it moves), the checkout path (the directory holding
`plans/`), the per-JVM warehouse directory (`graft-warehouse\\d+`),
and CdcTable base versions and delta commit seqs in paths
(`base_v\\d+`, `delta_\\d+`): like RDD ids, these count earlier runs
of the same scratch table.
Prints `[ OK ]` or `[FAIL]` plus a unified diff per query and
`N/M plans equal`; exit code 1 on any difference or a query dumped on
one side only.
"""
import difflib, os, re, sys

def checkout(dump_dir):
    # <checkout>/plans/<tag> -> <checkout>
    return os.path.dirname(os.path.dirname(os.path.abspath(dump_dir)))

def plans(dump_dir):
    out = {}
    for f in sorted(os.listdir(dump_dir)):
        if f.endswith(".txt") and "_" in f:
            out[f[:-len(".txt")].rsplit("_", 1)[0]] = os.path.join(dump_dir, f)
    return out

def masked(path, root):
    with open(path) as fh:
        text = fh.read().replace(root, "<checkout>")
    text = re.sub(r"#\d+", "#N", text)
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    text = re.sub(r"RDD\[\d+\]", "RDD[N]", text)
    text = re.sub(r"\.scala:\d+", ".scala:N", text)
    text = re.sub(r"graft-warehouse\d+", "graft-warehouse", text)
    text = re.sub(r"base_v\d+", "base_vN", text)
    text = re.sub(r"delta_\d+", "delta_N", text)
    return text.splitlines(keepends=True)

def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    a, b = plans(a_dir), plans(b_dir)
    names = sorted(set(a) | set(b))
    failures = []
    for name in names:
        if name not in a or name not in b:
            failures.append(name)
            print(f"[FAIL] {name}: plan missing in {a_dir if name not in a else b_dir}")
            continue
        la, lb = masked(a[name], checkout(a_dir)), masked(b[name], checkout(b_dir))
        if la == lb:
            print(f"[ OK ] {name}")
        else:
            failures.append(name)
            print(f"[FAIL] {name}")
            sys.stdout.writelines(difflib.unified_diff(la, lb, a[name], b[name]))
    print(f"\n{len(names) - len(failures)}/{len(names)} plans equal")
    sys.exit(1 if failures or not names else 0)

if __name__ == "__main__":
    main()
