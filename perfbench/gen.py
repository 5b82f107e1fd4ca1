"""Seeded input generator for the benchmark.

Everything the program receives is made here from the workload seed: the
lang-partitioned records table for `cli_batch` and the request list for
`service`. Each input carries a closed-form expectation, tallied while it is
generated, so the outputs can be checked without trusting the program.

The mutation kinds mirror the failing buckets of the program's
`RecordTable.synthesize`: each failing kind breaks exactly one ETS test of
the passing WCMP2 fixture (`data/record-template.json`).
"""
import hashlib
import json
import os
import random
import re
import struct

HERE = os.path.dirname(os.path.abspath(__file__))
TEMPLATE = open(os.path.join(HERE, "data", "record-template.json"),
                encoding="utf-8").read()
ID_LINE = "urn:wmo:md:ca-eccc-msc:weather.observations.swob-realtime"
CORE = "http://wis.wmo.int/spec/wcmp/2/conf/core"
ETS = CORE + "/"
GATE = CORE + "/validation"     # the schema gate, not one of the 12 tests

# kind -> (weight per 1000 records, rule ids of its violation rows).
# Shares: 66 % passing, 2 % passing through the `-test` centre bypass,
# 6 x 5 % each failing one ETS test (RecordTable buckets 14-19), and small
# shares of schema-gate failures, unknown centre ids and non-JSON rows.
KINDS = {
    "pass":           (660, []),
    "test_centre":    (20,  []),
    "bad_centre":     (50,  [ETS + "identifier", "referential:centre_id"]),
    "id_space":       (50,  [ETS + "identifier"]),
    "created_none":   (50,  [ETS + "record_created_datetime"]),
    "geom_range":     (50,  [ETS + "extent_geospatial"]),
    "no_policy":      (50,  [ETS + "data_policy"]),
    "bad_rel":        (50,  [ETS + "links"]),
    "unknown_centre": (5,   [ETS + "identifier", "referential:centre_id"]),
    "gate_fail":      (5,   [GATE]),
    "not_json":       (10,  ["parse_error"]),
}
DUPLICATE_PER_1000 = 5          # rows re-using an earlier row's identity
LANGS = ["en"] * 7 + ["fr", "de", "zh"]          # 70/10/10/10 skew


def _ets_failed(kind):
    """ETS FAILED count of a parseable record of this kind."""
    return sum(1 for r in KINDS[kind][1] if r.startswith(ETS) and r != GATE)


def content(kind, tag):
    """The record text of one kind; `tag` makes its identifier unique."""
    if kind == "not_json":
        return "id,title\n%s,not a WCMP2 document\n" % tag
    centre, local = "ca-eccc-msc", "observations.%s" % tag
    t = TEMPLATE
    if kind == "test_centre":
        centre = "ca-eccc-msc-test"
    elif kind == "bad_centre":
        centre = "bad-centre-id"
    elif kind == "unknown_centre":
        centre = "xx-unknown-centre"
    elif kind == "id_space":
        local = "obs %s" % tag
    elif kind == "created_none":
        t = t.replace('"created": "2018-01-01T11:11:11Z"', '"created": "None"')
    elif kind == "geom_range":
        t = t.replace("-142,", "-242,")
    elif kind == "no_policy":
        t = re.sub(r',\s*"wmo:dataPolicy": "core"', "", t)
    elif kind == "bad_rel":
        t = t.replace('"rel": "data",', '"rel": "download",')
    elif kind == "gate_fail":
        t = t.replace('"%s"' % CORE, '"bad-uri"', 1)
    return t.replace(ID_LINE, "urn:wmo:md:%s:%s" % (centre, local))


def _pick(rng, weights):
    names = list(weights)
    return rng.choices(names, [weights[k] for k in names])[0]


def records(seed, n):
    """(rows, expectation) of the cli_batch table of `n` records."""
    rng = random.Random(seed)
    weights = {k: w for k, (w, _) in KINDS.items()}
    rows, rule_counts, langs = [], {}, {}
    dup_keys = set()
    for i in range(n):
        kind = _pick(rng, weights)
        lang = rng.choice(LANGS)
        tag = "s%dr%d" % (seed, i)
        ident = ("r%d" % rng.randrange(1000), "records/%s.json" % tag,
                 hashlib.sha1(tag.encode()).hexdigest())
        if i and rng.randrange(1000) < DUPLICATE_PER_1000:
            ident = rows[rng.randrange(len(rows))][:3]
            dup_keys.add(ident)
        rows.append(ident + (lang, content(kind, tag)))
        for r in KINDS[kind][1]:
            rule_counts[r] = rule_counts.get(r, 0) + 1
        p = langs.setdefault(lang, {"records": 0, "parse_errors": 0,
                                    "passed_records": 0, "failed_records": 0,
                                    "failed_tests": 0})
        p["records"] += 1
        if kind == "not_json":
            p["parse_errors"] += 1
        elif _ets_failed(kind):
            p["failed_records"] += 1
            p["failed_tests"] += _ets_failed(kind)
        else:
            p["passed_records"] += 1
    for p in langs.values():
        p["verdict"] = ("PASS" if p["failed_records"] + p["parse_errors"] == 0
                        else "FAIL")
    if dup_keys:
        rule_counts["uniqueness:(repo,path,commit)"] = len(dup_keys)
    parse_errors = sum(p["parse_errors"] for p in langs.values())
    failed_tests = sum(p["failed_tests"] for p in langs.values())
    return rows, {
        "rows": n,
        "violations_by_rule": dict(sorted(rule_counts.items())),
        "partitions": dict(sorted(langs.items())),
        "reports_rows": n - parse_errors,
        # Reports.exitCode: any parse error aborts the reference run (255)
        "exit_code": 255 if parse_errors else min(failed_tests, 255),
    }


def write_records(rows, out_dir, contents_path):
    """Write the lang-partitioned parquet table, at most 1,000 rows a file
    so that the large `en` partition scans as several tasks, and the
    length-prefixed content dump that the JDK fingerprint check reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    cols = list(zip(*rows))
    table = pa.table({"repo": cols[0], "path": cols[1], "commit": cols[2],
                      "lang": cols[3], "content": cols[4]})
    pq.write_to_dataset(table, out_dir, partition_cols=["lang"],
                        basename_template="part-{i}.parquet",
                        max_rows_per_file=1000, row_group_size=1000)
    with open(contents_path, "wb") as f:
        for _, _, _, lang, text in rows:
            lb, cb = lang.encode(), text.encode("utf-8")
            f.write(struct.pack(">B", len(lb)) + lb +
                    struct.pack(">I", len(cb)) + cb)


# service request mix: (weight per 1000, process, record kind or body shape)
REQUESTS = [
    (360, "ets", "pass"), (30, "ets", "test_centre"), (40, "ets", "bad_centre"),
    (40, "ets", "id_space"), (40, "ets", "created_none"),
    (40, "ets", "geom_range"), (40, "ets", "no_policy"), (40, "ets", "bad_rel"),
    (40, "ets", "gate_fail"),
    (150, "kpi", "pass"), (40, "kpi", "created_none"), (40, "kpi", "bad_rel"),
    (40, "kpi", "gate_fail"),
    (15, "ets", "malformed_body"), (15, "kpi", "record_not_json"),
    (10, "ets", "missing_record"), (10, "ets", "record_not_json"),
    (10, "kpi", "malformed_body"),
]


def requests(seed, n):
    """`n` service requests, each with its expected status and, for an ETS
    report, its expected summary.FAILED. Every record is distinct."""
    rng = random.Random(seed * 7919 + 1)
    out = []
    for i in range(n):
        _, process, shape = rng.choices(REQUESTS, [w for w, _, _ in REQUESTS])[0]
        tag = "q%dn%d" % (seed, i)
        expect_failed = None
        if shape == "malformed_body":
            body = '{"inputs": {"record": %s' % tag
            status = 400
        elif shape == "missing_record":
            body = json.dumps({"inputs": {"fail_on_schema_validation": False}})
            status = 400
        elif shape == "record_not_json":
            body = json.dumps({"inputs": {"record": content("not_json", tag)}})
            status = 400
        else:
            doc = content(shape, tag)
            inputs = {"record": doc if rng.random() < 0.5 else json.loads(doc)}
            status = 200
            if process == "ets":
                flag = rng.choice([True, False, None])
                if flag is not None:
                    inputs["fail_on_schema_validation"] = flag
                if shape == "gate_fail" and flag is not False:
                    status = 500      # the reference's ValueError
                else:
                    expect_failed = _ets_failed(shape)
            body = json.dumps({"inputs": inputs})
        out.append({"process": process, "shape": shape, "body": body,
                    "status": status, "failed": expect_failed})
    return out
