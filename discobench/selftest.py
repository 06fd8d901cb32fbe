#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 discobench/selftest.py

- The same seed gives byte-identical dumps; another seed gives other ones.
- The manifest matches counts taken independently from the dumps (a
  Python XML pass): records, duplicates, rejects, rows per table and the
  first-wins survivors.
- Every metric name is well formed and used once, and run.py computes
  exactly the end-to-end metrics BENCHMARK.json lists.

Builds the harness first if needed (see run.py). Exits non-zero on the
first failure.
"""
import filecmp
import gzip
import json
import os
import re
import shutil
import subprocess
import sys
import xml.etree.ElementTree as ET

import run

LABELS = 200
OUT = os.path.join(run.BUILD, "selftest")


def generate(cp, seed, name):
    d = os.path.join(OUT, name)
    shutil.rmtree(d, ignore_errors=True)
    subprocess.run(["java", *run.JVM_FLAGS, "-cp", cp, "discobench.Main", "--gen", "--seed", str(seed),
                    "--work", d, "--labels", str(LABELS)], check=True)
    return d


def dump_names(d):
    return sorted(f for f in os.listdir(d) if f.endswith(".xml.gz"))


def test_determinism(cp):
    a, b, c = generate(cp, 7, "a"), generate(cp, 7, "b"), generate(cp, 8, "c")
    names = dump_names(a)
    assert names == ["artists.xml.gz", "labels.xml.gz", "masters.xml.gz", "releases.xml.gz"], names
    for n in names:
        assert filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False), f"seed 7 {n} differs"
        assert not filecmp.cmp(os.path.join(a, n), os.path.join(c, n), shallow=False), f"seeds 7, 8 {n} equal"
    return a


def record_id(entity, el):
    """The raw id of a record, as the loader reads it, or None."""
    if entity in ("releases", "masters"):
        return el.get("id")
    node = el.find("id")
    return None if node is None else node.text


def test_manifest(d):
    with open(os.path.join(d, "manifest.json")) as f:
        m = json.load(f)
    tables = {t: 0 for t in m["tables"]}
    tag = {"releases": "release", "artists": "artist", "labels": "label", "masters": "master"}
    name_of = {"releases": "title", "artists": "name", "labels": "name", "masters": "title"}
    for entity, rec_tag in tag.items():
        seen = {}
        records = dups = rejects = 0
        with gzip.open(os.path.join(d, f"{entity}.xml.gz")) as fh:
            for _, el in ET.iterparse(fh):
                if el.tag != rec_tag or el.find(name_of[entity]) is None:
                    continue
                records += 1
                raw = record_id(entity, el)
                if raw is None or not raw.isdigit():
                    rejects += 1
                elif int(raw) in seen:
                    dups += 1
                else:
                    seen[int(raw)] = el.findtext(name_of[entity])
                    if entity == "releases":
                        tables["release"] += 1
                        tables["release_label"] += len(el.findall("labels/label"))
                        tables["release_video"] += len(el.findall("videos/video"))
                    elif entity == "masters":
                        tables["master"] += 1
                        tables["master_artist"] += len(el.findall("artists/artist"))
                    else:
                        tables[entity[:-1]] += 1
                el.clear()
        meta = m["dumps"][entity]
        assert (records, dups, rejects) == (meta["records"], meta["duplicate_records"], meta["rejects"]), \
            (entity, records, dups, rejects, meta)
        for i, v in m["survivors"][entity]:
            assert seen[i] == v, (entity, i, seen[i], v)
    assert tables == m["tables"], (tables, m["tables"])
    assert m["records"] == sum(x["records"] for x in m["dumps"].values())


def test_metric_names():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    e2e = [x["name"] for x in bench["end_to_end"]]
    layer = [x["name"] for x in bench["per_layer"]]
    for n in e2e + layer + [w["name"] for w in bench["workloads"]]:
        assert name.match(n), n
    assert len(set(e2e + layer)) == len(e2e) + len(layer), "duplicate metric name"
    one_op = {"ops": [{"name": "x", "status": "ok", "wall_s": 1.0, "traced": False}], "setup_s": 1.0}
    assert sorted(run.end_to_end(one_op)) == sorted(e2e), "run.py computes other end-to-end metrics"


def main():
    cp = run.build()
    test_metric_names()
    print("ok metric names")
    d = test_determinism(cp)
    print("ok same seed -> same bytes, other seed -> other bytes")
    test_manifest(d)
    print("ok manifest matches the dumps")
    shutil.rmtree(OUT, ignore_errors=True)


if __name__ == "__main__":
    try:
        main()
    except AssertionError as e:
        print(f"selftest FAILED: {e}", file=sys.stderr)
        sys.exit(1)
