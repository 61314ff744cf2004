#!/usr/bin/env python3
"""Pin the expected output of every benchmark key (maintenance tool, not
part of a benchmark run).

Runs each workload's keys once through RequestBench with `--dump`, replays
each key's DuckDB oracle (`SparkEntry.oracleSql`) over the benchmark data,
compares the two in the canonical form of tools/check.py, and writes
perfbench/expected.json. A key without an oracle is pinned by row count and
schema; a key whose output disagrees with its oracle keeps its oracle
verdict in the file and fails every benchmark run until the program is
fixed. Run from the repository root:

    python3 perfbench/pin.py [workload ...]

Naming workloads re-pins only their keys and keeps the other entries.
"""
import json
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchlib  # noqa: E402
import run  # noqa: E402


def duck_rows(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def main():
    import duckdb
    spec = json.loads((run.HERE / "workloads.json").read_text())
    data = run.HERE / spec["data"]
    classes, _ = run.build()
    work = run.BUILD / "pin"
    shutil.rmtree(work, ignore_errors=True)

    only = sys.argv[1:]
    twins = list(spec["twins"].values())
    all_keys = sorted({k for n, w in spec["workloads"].items() if not only or n in only
                       for k in w["keys"]} | set(twins))
    flags = {"data": data, "out": work / "oracle", "keys": ",".join(all_keys),
             "oracle-only": "1"}
    (work / "tmp").mkdir(parents=True)
    run.run_jvm(classes, {"tmp": work / "tmp", "flags": flags}, work / "oracle.log", 600)
    ev = [json.loads(line) for line in open(work / "oracle" / "events.jsonl")]
    oracle = {e["key"]: e["sql"] for e in ev if e["type"] == "oracle"}
    pairs = next(e["pairs"] for e in ev if e["type"] == "twins")
    print(f"{len(pairs)} graph/direct twin pairs share an oracle:",
          ", ".join(f"{g}~{t}" for g, t in pairs))
    for g, t in spec["twins"].items():
        if [g, t] not in pairs:
            sys.exit(f"{g}~{t} do not share an oracle")

    path = run.HERE / "expected.json"
    expected = json.loads(path.read_text()) if only and path.exists() else {}
    for name, w in spec["workloads"].items():
        if only and name not in only:
            continue
        # twins are pinned once, with graph_batch; every traced run times them
        keys = w["keys"] + [t for t in twins if t not in w["keys"] and name == "graph_batch"]
        out = work / name
        flags = {"data": data, "out": out, "keys": ",".join(keys),
                 "action": w["action"], "seed": 1, "passes": 1, "setups": 1,
                 "trace": 0, "dump": out / "dump"}
        run.run_jvm(classes, {"tmp": work / "tmp", "flags": flags}, work / f"{name}.log", 900)
        for e in (json.loads(line) for line in open(out / "events.jsonl")):
            if e["type"] != "warm":
                continue
            k = e["key"]
            if e["error"]:
                sys.exit(f"{k} threw: {e['error']}")
            entry = {"check": "hash", "hash": e["hash"], "rows": e["rows"],
                     "schema": e["schema"]}
            if oracle.get(k) is None:
                entry.update(check="rows", oracle="none: pinned by rows and schema")
            else:
                con = duckdb.connect()
                for t in ("region", "nation", "customer", "supplier", "part", "orders",
                          "lineitem", "events", "documents", "embeddings"):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{data}/{t}.parquet')")
                scols, srows = duck_rows(con, f"SELECT * FROM read_parquet('{out}/dump/{k}/*.parquet')")
                ocols, orows = duck_rows(con, oracle[k])
                con.close()
                if sorted(scols) != sorted(ocols):
                    entry["oracle"] = f"mismatch: columns {sorted(scols)} vs {sorted(ocols)}"
                elif benchlib.canon(scols, srows) != benchlib.canon(ocols, orows):
                    entry["oracle"] = (f"mismatch: {len(srows)} rows vs oracle {len(orows)}, "
                                       f"fingerprints differ")
                else:
                    entry["oracle"] = f"match: {benchlib.fingerprint(ocols, orows)}"
                if entry["oracle"].startswith("mismatch"):
                    entry["hash"] = "oracle:" + benchlib.fingerprint(ocols, orows)
            expected[k] = entry
            print(f"{name:13s} {k:32s} {entry['check']:4s} {entry['oracle'][:60]}")
    wanted = {k for w in spec["workloads"].values() for k in w["keys"]} | set(twins)
    expected = {k: v for k, v in expected.items() if k in wanted}
    path.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
