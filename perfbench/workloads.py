"""Workload definitions: sizes, the job command line, and the output
checks every job run must pass.

Checks compare a job's JSON report with facts the generator knows by
construction (row counts, the exact method mix, 419 zones / 25 oceans,
the corpus's stub and copy counts). Counts that only the engine can
compute (tzdb groupings, near-duplicate clusters, packed batches) are
checked against the seed's record: the first passing run of a seed in a
checkout writes it, every later run of that seed must match it.
"""

from __future__ import annotations

import json
import os

WORKLOADS = {
    "assign_wide": {
        "job": "assign_pages.py",
        "input_paths": ["pages"],
        "sizes": {"full": {"rows": 20_000}, "tiny": {"rows": 2_000}},
    },
    "assign_dense": {
        "job": "assign_pages.py",
        "input_paths": ["pages", "zones.parquet"],
        "sizes": {
            "full": {"rows": 20_000, "gx": 32, "gy": 16, "edges": 64},
            "tiny": {"rows": 2_000, "gx": 8, "gy": 8, "edges": 64},
        },
    },
    "build_zones": {
        "job": "build_all.py",
        "input_paths": ["config"],
        "sizes": {"full": {"tzids": 419}, "tiny": {"tzids": 40}},
    },
    "corpus_clean": {
        "job": "clean_corpus.py",
        "input_paths": ["docs.parquet"],
        "sizes": {"full": {"rows": 20_000}, "tiny": {"rows": 1_000}},
    },
}


def du(path: str) -> int:
    """Bytes of the regular files under path (or of the file itself)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def job_args(name: str, inputs: dict, work: str, out: str, cores: int) -> list[str]:
    d = inputs["dir"]
    common = ["--work-dir", work, "--out-dir", out, "--cores", str(cores)]
    if name == "assign_wide":
        return ["--pages-root", os.path.join(d, "pages"), *common]
    if name == "assign_dense":
        return [
            "--pages-root",
            os.path.join(d, "pages"),
            "--zones-parquet",
            os.path.join(d, "zones.parquet"),
            *common,
        ]
    if name == "build_zones":
        return ["--real-config", *common]
    if name == "corpus_clean":
        return ["--docs-parquet", os.path.join(d, "docs.parquet"), *common]
    raise ValueError(name)


def job_env(name: str, inputs: dict) -> dict:
    """Extra environment for the job process only."""
    if name == "build_zones":
        return {"TZBB_REFERENCE_DIR": os.path.join(inputs["dir"], "config")}
    return {}


def _eq(errors: list, what: str, got, want) -> None:
    if got != want:
        errors.append(f"{what}: got {got!r}, want {want!r}")


def check(name: str, report: dict, inputs: dict) -> tuple[list[str], dict]:
    """(errors, recordable counts) for one job's final JSON report."""
    errors: list[str] = []
    rec: dict = {}
    if name in ("assign_wide", "assign_dense"):
        _eq(errors, "cached", report.get("cached"), False)
        _eq(errors, "rows", report.get("rows"), inputs["rows"])
        _eq(errors, "text_invariant_ok", report.get("text_invariant_ok"), True)
        got = dict(report.get("methods") or {})
        if name == "assign_wide":
            _eq(errors, "methods", got, inputs["methods"])
        else:
            land = got.pop("cell", 0) + got.pop("pip", 0)
            _eq(errors, "cell+pip", land, inputs["land"])
            for k, v in inputs["methods"].items():
                _eq(errors, k, got.get(k, 0), v)
        return errors, rec
    stages = report.get("stages") or {}
    cached = [k for k, v in stages.items() if isinstance(v, dict) and v.get("cached")]
    _eq(errors, "cached stages", cached, [])
    if name == "build_zones":
        facts = inputs["facts"]
        _eq(errors, "zones", stages.get("zones", {}).get("rows"), facts["zones"])
        _eq(errors, "oceans", stages.get("oceans", {}).get("rows"), facts["oceans"])
        _eq(errors, "validate", stages.get("validate"), {"ok": True})
        _eq(errors, "lint", stages.get("lint"), {"errors": 0})
        outs = stages.get("outputs") or {}
        _eq(errors, "comprehensive", outs.get("comprehensive.geojson"), facts["zones"])
        for k in ("real_groups", "derived_1970", "derived_now",
                  "derived_1970_oceans", "derived_now_oceans"):
            rec[k] = stages.get(k, {}).get("rows")
        rec["outputs"] = outs
        rec["shapefiles"] = stages.get("shapefiles")
        return errors, rec
    if name == "corpus_clean":
        facts = inputs["facts"]
        _eq(errors, "input", stages.get("input", {}).get("rows"), facts["input"])
        _eq(errors, "quality", stages.get("quality", {}).get("rows"), facts["quality"])
        _eq(errors, "exact", stages.get("exact", {}).get("rows"), facts["exact"])
        nd = stages.get("neardup", {}).get("rows")
        if not isinstance(nd, int) or not facts["neardup_min"] <= nd <= facts["exact"]:
            errors.append(
                f"neardup: {nd!r} outside [{facts['neardup_min']}, {facts['exact']}]"
            )
        pack = stages.get("pack", {})
        _eq(errors, "pack rows", pack.get("rows"), nd)
        rec["neardup"] = nd
        rec["batches"] = pack.get("batches")
        return errors, rec
    raise ValueError(name)


def check_record(path: str, rec: dict) -> list[str]:
    """Compare against the seed's stored record, storing it if absent."""
    if not rec:
        return []
    if os.path.exists(path):
        with open(path) as f:
            want = json.load(f)
        return [f"{k}: got {rec.get(k)!r}, seed record {v!r}" for k, v in want.items() if rec.get(k) != v]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f, sort_keys=True)
    os.replace(tmp, path)
    return []
