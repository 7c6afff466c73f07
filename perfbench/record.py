#!/usr/bin/env python3
"""Records the reference result signatures the benchmark checks against.

    python3 perfbench/record.py sf0.1            # all queries, the sf0.1 fixture
    python3 perfbench/record.py x10 q1,q2,...    # named queries, the 10x replica

Runs every query once in the benchmark's session config, dumps each result
to parquet and computes its signature (graft.perfbench.Signature). A
signature is kept only if the dumped result matches the repository's DuckDB
oracle (tools/compare.py on the same inputs) or, for queries with no oracle
twin, if its Golden.hash equals the pin in Round17OpsSpec for that input.
Writes perfbench/signatures/<input>.json and exits non-zero if any query
could not be verified.
"""
import json
import os
import re
import subprocess
import sys

import run

PIN = re.compile(r'\("([a-z0-9_]+)", "[^"]*/(sf[0-9.]+)"\) -> "([0-9a-f]+)"')


def main():
    if len(sys.argv) < 2 or sys.argv[1] not in ("sf0.1", "x10"):
        sys.exit(__doc__)
    name = sys.argv[1]
    cp = run.classpath()
    if name == "x10":
        run.ensure_replica()
        data = os.path.join(run.BUILD, "replica", "x10")
    else:
        data = os.path.join(run.HERE, "data", "sf0.1")
    dump = os.path.join(run.BUILD, "record", name)
    work = os.path.join(run.BUILD, "record-work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(dump, exist_ok=True)
    extra = ["--queries", sys.argv[2]] if len(sys.argv) > 2 else []
    cmd = ["java"] + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{run.HEAP}", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dgraft.stage.tmp={work}/stage", f"-Dgraft.stream.tmp={work}/stream",
        "-cp", cp, "graft.perfbench.Main", "--mode", "record", "--root", run.ROOT,
        "--work", work, "--input", name, "--dump", dump] + extra
    subprocess.run(cmd, cwd=work, check=True)

    compare = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "compare.py"), data, dump],
        stdout=subprocess.PIPE, text=True)
    oracle_pass = set(re.findall(r"^PASS (\S+)", compare.stdout, re.M))
    with open(os.path.join(run.ROOT, "src", "test", "scala", "graft", "Round17OpsSpec.scala")) as f:
        pins = {q: h for q, sf, h in PIN.findall(f.read()) if sf == name}
    with open(os.path.join(dump, "signatures.json")) as f:
        sigs = json.load(f)
    with open(os.path.join(dump, "golden.json")) as f:
        golden = json.load(f)
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        has_oracle = set(json.load(f))

    kept, rejected = {}, []
    for q, sig in sorted(sigs.items()):
        if sig.startswith("ERROR"):
            ok = False
        elif q in has_oracle:
            ok = q in oracle_pass
        else:
            ok = golden.get(q) == pins.get(q, "-")
        if ok:
            kept[q] = sig
        else:
            rejected.append(q)
    out = os.path.join(run.HERE, "signatures", f"{name}.json")
    old = {}
    if os.path.exists(out) and extra:
        with open(out) as f:
            old = json.load(f)
    old.update(kept)
    with open(out, "w") as f:
        json.dump(dict(sorted(old.items())), f, indent=1)
        f.write("\n")
    print(f"{len(kept)} verified ({len(kept) - len(set(kept) - has_oracle)} by oracle, "
          f"{len(set(kept) - has_oracle)} by golden pin), {len(rejected)} rejected: {rejected}")
    return 1 if rejected else 0


if __name__ == "__main__":
    sys.exit(main())
