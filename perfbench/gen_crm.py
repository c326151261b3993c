"""Seeded generator for a CRM extract shaped like the paper's input.

Writes, into <out_dir>:
  data.csv        <rows> x 297 columns, LF line endings, one header with an
                  embedded newline ("First\\nName", as in the real export)
  stm.csv         the source-to-target mapping for every data column
  religions.csv   the "Are you a person of faith?" replacement map
  repdata_NN.csv  11 repeated-data tables keyed on Email
  manifest.tsv    shape and repeated-data file list for the harness
  expected.json   what the generator knows about the correct output

Column families: the 12 columns the CRM cleanups and mappings touch,
11 repeated-data columns, plain mapped columns, merge groups (several
sources into one target), tag columns, Multiple Choice columns and
out-of-scope columns. A few percent of rows carry "test" in an in-scope
column; every Email is unique. Filler text never contains "test".

Usage: python3 gen_crm.py <out_dir> <rows> <seed>
"""

import csv
import json
import os
import sys

import numpy as np

N_COLS = 297
N_REP = 11
N_MERGE_GROUPS, MERGE_WIDTH = 10, 3
N_TAGS = 30
N_MULTI = 20
N_OUT_OF_SCOPE = 64

FIRST = ["Alice", "Bob", "Carol", "Dave", "Erin", "Frank", "Grace", "Heidi",
         "Ivan", "Judy", "Mallory", "Niaj", "Olivia", "Peggy", "Rupert",
         "Sybil", "Trent", "Victor", "Walter", "Yusuf", "Zara", "Kate"]
LAST = ["Smith", "Jones", "Taylor", "Brown", "Williams", "Wilson", "Evans",
        "Thomas", "Roberts", "Walker", "Wright", "Hughes", "Green", "Hall",
        "Wood", "Harris", "Clarke", "Stevens", "Jackson", "Turner"]
CITIES = ["London", "Leeds", "York", "Hull", "Derby", "Oxford", "Bristol",
          "LONDON NW", "King&#039;s Lynn", "Milton Keynes", "BATH",
          "Newcastle upon Tyne", "St Albans"]
CONSTITUENCIES = ["Bristol West", "Bristol East", "Hull North", "Leeds Central",
                  "Oxford East", "York Central", "Derby North", "Bath",
                  "Islington North", "Cities of London and Westminster"]
RELIGIONS = {"christian - catholic": "Catholic", "christian - anglican":
             "Anglican", "jewish": "Jewish", "muslim": "Muslim",
             "buddhist": "Buddhist", "hindu": "Hindu", "sikh": "Sikh",
             "none": "None", "other": "Other"}
ORGS = ["Acme", "Fernco", "Galeco", "Hillco", "Orgco", "None", "Na",
        "Friends of the Earth", "Local Food Bank", "Parish Council"]
FILLER = ("green river stone bright open quiet north south market garden "
          "bridge harbour meadow forest valley summer winter spring autumn "
          "member donor volunteer event meeting letter phone street local "
          "community school library park council").split()
CHOICES = ["Yes", "No", "Maybe", "Email", "Post", "Phone", "Weekly",
           "Monthly", "Never", "Sometimes"]
BAD_HOME = ["0", "999", "01", "07", "34", "84", "447511", "447911"]

assert not any("test" in w.lower() for w in FIRST + LAST + CITIES + ORGS +
               FILLER + CHOICES + CONSTITUENCIES + list(RELIGIONS))


def generate(out_dir, rows, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    # (header, STM row) per column; STM row = (fullColName, in scope,
    # target, is tag, tag name, custom field type)
    cols = []

    def add(header, target, in_scope=True, tag="", multi=False,
            stm_name=None):
        cols.append((header, (stm_name or header, "T" if in_scope else "F",
                              target, "T" if tag else "F", tag,
                              "Multiple Choice" if multi else "")))

    add("Email", "email")
    add("First\nName", "first_name", stm_name="FirstName")
    add("Last Name", "last_name")
    add("Address 1", "address1")
    add("City", "city")
    add("Zip", "zip")
    add("Home Phone", "phone")
    add("Work Phone", "phone")
    add("Join Date", "join_date")
    add("Are you a person of faith?", "religion", multi=True)
    add("Parliamentary Constituency (U.K.)", "constituency")
    add("Organisational/company sign up:Name of Organisation", "employer")
    rep_cols = [f"Repeated Field {i:02d}" for i in range(1, N_REP + 1)]
    for c in rep_cols:
        add(c, c.lower().replace(" ", "_"))
    for g in range(N_MERGE_GROUPS):
        for k in range(MERGE_WIDTH):
            add(f"Contact Note {g:02d}{'ABC'[k]}", f"contact_note_{g:02d}")
    for t in range(N_TAGS):
        add(f"Tag: Interest {t:02d}", "", tag=f" interest {t:02d} ")
    for m in range(N_MULTI):
        add(f"Preference {m:02d}", f"preference_{m:02d}", multi=True)
    for o in range(N_OUT_OF_SCOPE):
        add(f"Legacy Field {o:02d}", "", in_scope=False)
    n_mapped = N_COLS - len(cols)
    for f in range(n_mapped):
        add(f"Field {f:03d}", f"field_{f:03d}")
    assert len(cols) == N_COLS

    headers = [h for h, _ in cols]
    idx = {h: i for i, h in enumerate(headers)}
    blank_rate = rng.uniform(0.1, 0.9, N_COLS)

    def pick(values, p_other=0.0, other=()):
        """rows draws from `values`; with probability p_other from `other`."""
        v = np.array(values, dtype=object)[rng.integers(len(values), size=rows)]
        if p_other:
            m = rng.random(rows) < p_other
            v[m] = np.array(other, dtype=object)[rng.integers(len(other), size=m.sum())]
        return v

    def phrases(words, sep, n_max, n=4096):
        """A pool of n random phrases of 1..n_max words."""
        return [sep.join(np.array(words)[rng.integers(len(words), size=k)])
                for k in rng.integers(1, n_max + 1, size=n)]

    first = pick(FIRST)
    last = pick(LAST)
    data = np.empty((N_COLS, rows), dtype=object)
    data[0] = [f"{a.lower()}.{b.lower()}.{r}@example.org"
               for r, (a, b) in enumerate(zip(first, last))]
    data[0][rows // 2] = "a..murdock@dsl.pipex.com"  # the typo a cleanup fixes
    data[1] = first
    tab = rng.random(rows) < 0.01
    data[1][tab] = [f[:2] + "\t" + f[2:] for f in first[tab]]
    data[2] = last
    comma = rng.random(rows) < 0.05
    data[2][comma] = [f"{a}, {b}" for a, b in zip(last[comma], pick(LAST)[comma])]
    data[2][rng.random(rows) < 0.005] = "F. Queen, Jr."
    data[3] = [f"{n} {w.title()} St" for n, w in
               zip(rng.integers(1, 300, size=rows), pick(FILLER))]
    data[3][rng.random(rows) < 0.03] = ", "
    data[3][rng.random(rows) < 0.03] = ","
    data[4] = pick(CITIES)
    data[5] = [f"{a}{b}{n} {m}" for a, b, n, m in zip(
        pick(list("ABCDEFGHLMNOSY")), pick(list("SNLEKA")),
        rng.integers(1, 30, size=rows), rng.integers(1, 10, size=rows))]
    data[5][rng.random(rows) < 0.05] = "0"
    phones = ["0" + "".join(map(str, d)) for d in rng.integers(0, 10, (rows, 10))]
    data[6] = phones
    bad = rng.random(rows) < 0.1
    data[6][bad] = pick(BAD_HOME)[bad]
    data[7] = np.roll(np.array(phones, dtype=object), 1)
    data[7][rng.random(rows) < 0.02] = "02072193000"
    data[8] = [f"{y}-{m:02d}-{d:02d} {h:02d}:00:00" for y, m, d, h in zip(
        rng.integers(1995, 2024, size=rows), rng.integers(1, 13, size=rows),
        rng.integers(1, 29, size=rows), rng.integers(0, 24, size=rows))]
    data[9] = pick(list(RELIGIONS) + ["unknownfaith"])
    data[10] = pick(CONSTITUENCIES, 0.01, ["Southampton, Test"])
    data[11] = pick(ORGS)
    filler = phrases(FILLER, " ", 4)
    choices = phrases(CHOICES, "; ", 3)
    for c in range(12, N_COLS):
        h = headers[c]
        if h.startswith("Tag: "):
            col = np.full(rows, "Yes", dtype=object)
        elif h.startswith(("Preference ", "Repeated ")):
            col = pick(choices)
        else:
            col = pick(filler)
            nl = rng.random(rows) < 0.003
            col[nl] = [v + "\nsecond line" for v in col[nl]]
        col[rng.random(rows) < blank_rate[c]] = ""
        data[c] = col
    # ~3% test rows: "test" planted in one column (in scope or not)
    planted = np.flatnonzero(rng.random(rows) < 0.03)
    where = rng.choice([1, 2, 11, 12, 40, 150, 290], size=len(planted))
    words = pick(["Test", "testing", "LaTeSt news"])
    for r, c, w in zip(planted, where, words):
        data[c][r] = (w + " " + data[c][r]).strip()
    emails = list(data[0])

    with open(os.path.join(out_dir, "data.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n", quoting=csv.QUOTE_MINIMAL)
        w.writerow(headers)
        w.writerows(data.T.tolist())

    stm = [s for _, s in cols]
    with open(os.path.join(out_dir, "stm.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["fullColName", "IN SCOPE", "NB TARGET FIELD", "Tag?",
                    "Tag Name", "Custom Field Type?"])
        w.writerows(stm)

    with open(os.path.join(out_dir, "religions.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["Values in Data", "Replacement Values"])
        w.writerows(sorted(RELIGIONS.items()))

    manifest = [("shape", str(rows), str(N_COLS))]
    # Repeated-data tables: the cleaned value for a subset of the emails
    # (the rest are blanked by the pipeline, as in the reference).
    uniq = sorted(set(emails))
    for i, c in enumerate(rep_cols, 1):
        name = f"repdata_{i:02d}.csv"
        keep = rng.random(len(uniq)) < 0.6
        with open(os.path.join(out_dir, name), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(["Email", c, "Length"])
            for e, k in zip(uniq, keep):
                if k:
                    v = CHOICES[rng.integers(len(CHOICES))]
                    w.writerow([e, v, len(v)])
        manifest.append(("repdata", c, name))
    with open(os.path.join(out_dir, "manifest.tsv"), "w") as f:
        f.writelines("\t".join(m) + "\n" for m in manifest)

    # What the pipeline must produce, derived from the rows themselves.
    in_scope = [i for i, (_, s) in enumerate(cols) if s[1] == "T"]
    exempt_col = idx["Parliamentary Constituency (U.K.)"]
    has_test = np.zeros(rows, dtype=bool)
    for i in in_scope:
        has_test |= np.char.find(np.char.lower(data[i].astype(str)), "test") >= 0
    test_rows = int((has_test & (data[exempt_col] != "Southampton, Test")).sum())
    targets = {}
    for _, s in cols:
        if s[1] == "T" and s[2]:
            targets.setdefault(s[2], []).append(s[0])
    later = {src for srcs in targets.values() for src in srcs[1:]}
    first_of = {srcs[0]: t for t, srcs in targets.items()}
    out_cols = [first_of.get(s[0], s[0]) for _, s in cols
                if s[1] == "T" and s[0] not in later] + ["tags"]
    lists = sorted({
        "".join(ch if ch.isalnum() or ch in "._-" else "_" for ch in s[0])
        for _, s in cols if s[1] == "T" and s[5] == "Multiple Choice"})
    expected = {"rows_in": rows, "columns_in": N_COLS,
                "test_rows": test_rows, "rows_out": rows - test_rows,
                "columns_out": out_cols, "distinct_lists": lists}
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1)
    return expected


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
