#!/usr/bin/env python3
"""Seeded generator of one FEC filing cycle plus late-data delta batches.

    python3 perfbench/fecgen.py --seed 7 --out DIR

writes
    DIR/cycle/{cn22,cm22,ccl22,indiv22,oth22}.txt
                        the dims and the contribution facts of the cycle
    DIR/expenditures/oppexp22.txt and the expenditure CSV
                        the cycle's expenditures, with amendment chains
    DIR/delta_1/{indiv22,oth22}.txt
                        late contributions: new filings, duplicates inside
                        the batch, lines re-sent although already loaded
    DIR/delta_2/oppexp22.txt and the expenditure CSV
                        amendments of loaded expenditures, and fresh ones
    DIR/expected.json   the generator's own tallies

The bulk files use the FEC layouts graft reads (pipe-delimited text
without header or quoting; the independent-expenditure file is a quoted
CSV with a header). The tallies are computed here, from the generated
rows, by restating the classification rules of the FEC views; they are
what the benchmark checks graft's outputs against.
"""
import argparse
import csv
import json
import os
import random
from decimal import Decimal

STATES = ["AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA", "HI",
          "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI",
          "MN", "MS", "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC",
          "ND", "OH", "OK", "OR", "PA", "RI", "SC", "SD", "TN", "TX", "UT",
          "VT", "VA", "WA", "WV", "WI", "WY"]
PARTIES = ["DEM", "REP", "IND", "LIB", "GRE"]
LAST = ["SMITH", "JOHNSON", "WILLIAMS", "BROWN", "JONES", "GARCIA", "MILLER",
        "DAVIS", "RODRIGUEZ", "MARTINEZ", "HERNANDEZ", "LOPEZ", "GONZALEZ",
        "WILSON", "ANDERSON", "THOMAS", "TAYLOR", "MOORE", "JACKSON", "MARTIN",
        "LEE", "PEREZ", "THOMPSON", "WHITE", "HARRIS", "SANCHEZ", "CLARK",
        "RAMIREZ", "LEWIS", "ROBINSON", "WALKER", "YOUNG", "ALLEN", "KING"]
FIRST = ["JAMES", "MARY", "ROBERT", "PATRICIA", "JOHN", "JENNIFER", "MICHAEL",
         "LINDA", "DAVID", "ELIZABETH", "WILLIAM", "BARBARA", "RICHARD",
         "SUSAN", "JOSEPH", "JESSICA", "THOMAS", "SARAH", "CHARLES", "KAREN"]
TITLES = ["", "", "", " MR", " MRS", " DR", " JR", " III"]
JOBS = ["ENGINEER", "TEACHER", "ATTORNEY", "PHYSICIAN", "RETIRED", "NURSE",
        "SALES", "CONSULTANT", "OWNER", "NOT EMPLOYED", "MANAGER", "WRITER"]
EMPLOYERS = ["SELF-EMPLOYED", "NONE", "ACME CORP", "GLOBEX", "INITECH",
             "UMBRELLA LLC", "STARK IND", "WAYNE ENT", "HOOLI", "RETIRED"]
MONTHS = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP",
          "OCT", "NOV", "DEC"]
IE_HEADER = ["can_id", "can_nam", "spe_id", "spe_nam", "ele_typ",
             "can_off_sta", "can_off_dis", "can_off", "can_par_aff",
             "exp_amo", "exp_dat", "agg_amo", "sup_opp", "pur", "pay",
             "file_num", "amn_ind", "tra_id", "ima_num", "rec_dt",
             "fec_election_yr", "prev_file_num", "dissem_dt"]
COMMITTEE_ENTITIES = ("CCM", "COM", "PAC", "PTY")
FEC_INDIV = 4000        # indiv22 lines of the cycle the benchmark times


def is_disbursement(tp):
    """The FEC views' outflow rule: types starting '2' or '4', except
    the earmarked receipts 24I and 24T."""
    return tp[:1] in ("2", "4") and tp not in ("24I", "24T")


def classify(entity, other_id, tp, name, cmte_id):
    """The classification a master contribution row receives in the
    elastic view, or None when no view selects it."""
    if not cmte_id or not tp:
        return None
    disb = is_disbursement(tp)
    c_other = bool(other_id) and other_id.startswith("C")
    if entity == "CAN":
        if other_id and not c_other and not disb:
            return "candidate"
        if c_other and disb:
            return "committee"
        return None
    if entity == "IND":
        return "individual" if (not disb and name) else None
    if entity == "ORG":
        if not other_id:
            return "organization" if (not disb and name) else None
        return "committee" if c_other else None
    if entity in COMMITTEE_ENTITIES:
        return "committee" if other_id else None
    return None


class Cycle:
    def __init__(self, seed, n_indiv):
        self.r = random.Random(seed)
        self.n = n_indiv
        self.sub_id = 4000000000
        self.tran = 0
        self.file_num = 1400000
        self.tally = {"zip9": 0, "zip_zero": 0, "zip_empty": 0,
                      "memo": 0, "exact_dup": 0}

    # -- dimensions -------------------------------------------------------
    def person(self):
        r = self.r
        return f"{r.choice(LAST)}, {r.choice(FIRST)}{r.choice(TITLES)}"

    def dims(self):
        r = self.r
        n_cand = max(40, self.n // 120)
        n_cmte = max(80, self.n // 60)
        self.cands = []
        for i in range(n_cand):
            office = r.choice("HHHHSP")
            st = r.choice(STATES)
            cid = f"{office}2{st}{i:05d}"
            party = r.choice(PARTIES) if r.random() > 0.05 else ""
            dist = f"{r.randrange(1, 20):02d}" if office == "H" else "00"
            if r.random() < 0.03:
                dist = ""
            self.cands.append([cid, self.person(), party, "2022", st, office,
                               dist, r.choice("CIO"), "C", "", "", "",
                               "SPRINGFIELD", st, f"{r.randrange(10000, 99999)}"])
        self.cmtes = []
        for i in range(n_cmte):
            cid = f"C{i + 10000000:08d}"
            cand = self.cands[i % n_cand][0] if i < n_cand else ""
            party = r.choice(PARTIES) if r.random() < 0.6 else ""
            org = f"{r.choice(EMPLOYERS)} PAC" if r.random() < 0.3 else ""
            st = r.choice(STATES)
            self.cmtes.append([cid, f"COMMITTEE {i} FOR AMERICA",
                               self.person(), "", "", "CAPITAL", st,
                               f"{r.randrange(10000, 99999)}",
                               r.choice("PAUB"), r.choice("HSPQNO"), party,
                               r.choice("QMT"), r.choice("C ").strip(),
                               org, cand])
        self.links = []
        lid = 2000000
        for cand in self.cands:
            for _ in range(r.randint(1, 3)):
                cm = r.choice(self.cmtes)
                lid += 1
                self.links.append([cand[0], "2022", "2022", cm[0], cm[9],
                                   cm[8], str(lid)])
        n_donor = max(200, self.n // 4)
        self.donors = []
        for _ in range(n_donor):
            z = r.random()
            if z < 0.65:
                zipc = f"{r.randrange(1000, 99999):05d}"
            elif z < 0.90:
                zipc = f"{r.randrange(100000000, 999999999)}"
            elif z < 0.95:
                zipc = "0"
            else:
                zipc = ""
            self.donors.append((self.person(), r.choice(STATES), zipc,
                                r.choice(EMPLOYERS), r.choice(JOBS)))

    # -- facts ------------------------------------------------------------
    def next_ids(self):
        self.sub_id += 1
        self.tran += 1
        return str(self.sub_id), f"SA17.{self.tran}"

    def date(self):
        r = self.r
        if r.random() < 0.03:
            return ""
        return f"{r.randint(1, 12):02d}{r.randint(1, 28):02d}2022"

    def amount(self):
        return f"{Decimal(self.r.randrange(100, 500000)) / 100:.2f}"

    def indiv_line(self):
        r = self.r
        sub, tran = self.next_ids()
        cm = r.choice(self.cmtes)[0]
        u = r.random()
        if u < 0.88:
            entity = "IND"
            name, st, zipc, emp, job = r.choice(self.donors)
            other = ""
            tp = r.choices(["15", "15E", "24T", "24I", "22Y"],
                           [60, 12, 8, 8, 12])[0]
        elif u < 0.96:
            entity = "ORG"
            name, st, zipc = (f"{r.choice(EMPLOYERS)} INC", r.choice(STATES),
                              f"{r.randrange(1000, 99999):05d}")
            emp, job = "", ""
            other = r.choice(self.cmtes)[0] if r.random() < 0.4 else ""
            tp = r.choices(["15", "15C", "24K", "22Z"], [60, 20, 10, 10])[0]
        else:
            entity = "CAN"
            cand = r.choice(self.cands)
            name, st, zipc = cand[1], cand[4], cand[14]
            emp, job = "", ""
            v = r.random()
            other = cand[0] if v < 0.6 else (
                r.choice(self.cmtes)[0] if v < 0.85 else "")
            tp = r.choices(["15C", "24K", "15"], [60, 25, 15])[0]
        memo = "X" if r.random() < 0.05 else ""
        return [cm, "N", r.choice(["Q1", "Q2", "Q3", "YE", "M6"]), "P2022",
                f"2022{r.randrange(10**13):013d}", tp, entity, name, "ANYTOWN",
                st, zipc, emp, job, self.date(), self.amount(), other, tran,
                str(self.file_num + r.randrange(500)), memo,
                "EARMARKED" if memo else "", sub]

    def oth_line(self):
        r = self.r
        sub, tran = self.next_ids()
        cm = r.choice(self.cmtes)[0]
        u = r.random()
        if u < 0.8:
            entity = r.choice(COMMITTEE_ENTITIES)
            other = r.choice(self.cmtes)[0] if r.random() < 0.95 else ""
            tp = r.choices(["18K", "18G", "24K", "24A", "22Z", "24I"],
                           [35, 15, 20, 10, 10, 10])[0]
        elif u < 0.9:
            entity = "ORG"
            other = r.choice(self.cmtes)[0]
            tp = r.choice(["18K", "24K"])
        else:
            entity = "CAN"
            other = r.choice(self.cmtes)[0]
            tp = r.choice(["18K", "24K", "24E"])
        memo = "X" if r.random() < 0.05 else ""
        return [cm, "N", "Q2", "P2022", f"2022{r.randrange(10**13):013d}", tp,
                entity, f"COMMITTEE {r.randrange(9999)} FOR AMERICA",
                "CAPITAL", r.choice(STATES), f"{r.randrange(1000, 99999):05d}",
                "", "", self.date(), self.amount(), other, tran,
                str(self.file_num + r.randrange(500)), memo,
                "MEMO" if memo else "", sub]

    def oppexp_line(self):
        r = self.r
        sub, tran = self.next_ids()
        d = "" if r.random() < 0.03 else \
            f"{r.randint(1, 12):02d}/{r.randint(1, 28):02d}/2022"
        memo = "X" if r.random() < 0.05 else ""
        return [r.choice(self.cmtes)[0], "N", "2022", "Q2",
                f"2022{r.randrange(10**13):013d}", "17", "F3X", "SB",
                f"{r.choice(EMPLOYERS)} VENDOR", "ANYTOWN", r.choice(STATES),
                f"{r.randrange(1000, 99999):05d}", d, self.amount(), "P2022",
                r.choice(["RENT", "PAYROLL", "TRAVEL", "POSTAGE"]),
                r.choice(["001", "002", "003"]), "Administrative", memo,
                "MEMO" if memo else "", "ORG", sub,
                str(self.file_num + r.randrange(500)), tran, "", ""]

    def ie_row(self, prev=None):
        """One independent expenditure; `prev` is the row it amends."""
        r = self.r
        self.file_num += 1
        if prev is None:
            self.tran += 1
            cand = r.choice(self.cands)
            spe = r.choice(self.cmtes)
            tra = f"SE.{self.tran}"
            amt = self.amount()
            base = [cand[0], cand[1], spe[0], spe[1], "G", cand[4], cand[6],
                    cand[5], cand[2], amt]
            amn, prev_fn = "N", ""
        else:
            base = prev[:10]
            base[9] = self.amount()
            tra = prev[17]
            amn, prev_fn = "A", prev[15]
        exp_dat = "" if r.random() < 0.03 else \
            f"{r.randint(1, 28):02d}-{r.choice(MONTHS)}-22"
        return base + [exp_dat, base[9], r.choice("SO"),
                       r.choice(["TV ADS", "DIGITAL", "MAILERS", "RADIO"]),
                       f"{r.choice(EMPLOYERS)} MEDIA", str(self.file_num), amn,
                       tra, f"2022{r.randrange(10**13):013d}",
                       f"{r.randint(1, 28):02d}-{r.choice(MONTHS)}-22",
                       "2022", prev_fn, ""]

    # -- batches ----------------------------------------------------------
    def with_dups(self, lines, share, kind_key):
        """Append exact duplicates of `share` of the lines at random
        positions (the files repeat whole lines across filings)."""
        out = list(lines)
        n = int(len(lines) * share)
        for _ in range(n):
            out.insert(self.r.randrange(len(out) + 1), list(self.r.choice(lines)))
        self.tally[kind_key] = self.tally.get(kind_key, 0) + n
        return out

    def ie_chain(self, n):
        """n fresh expenditures, 15% amended once and 5% twice. Returns
        (rows, live rows)."""
        rows, live = [], []
        for _ in range(n):
            row = self.ie_row()
            rows.append(row)
            hops = self.r.choices([0, 1, 2], [80, 15, 5])[0]
            for _ in range(hops):
                row = self.ie_row(prev=row)
                rows.append(row)
            live.append(row)
        return rows, live


def count_zip(tally, lines):
    for ln in lines:
        z = ln[10]
        if z == "":
            tally["zip_empty"] += 1
        elif z.strip("0") == "":
            tally["zip_zero"] += 1
        elif len(z) == 9:
            tally["zip9"] += 1
        if ln[18]:
            tally["memo"] += 1


def contribution_tally(fact_lines):
    """Distinct non-memo lines (one per sub_id), their classification and
    the sum of their amounts over the classified ones."""
    seen = {}
    for ln in fact_lines:
        if ln[18]:  # memo_cd set
            continue
        seen[ln[20]] = ln
    classes = {}
    amt = Decimal(0)
    keys = []
    for sub, ln in seen.items():
        c = classify(ln[6], ln[15], ln[5], ln[7], ln[0])
        if c is None:
            continue
        classes[c] = classes.get(c, 0) + 1
        amt += Decimal(ln[14])
        keys.append(int(sub))
    return seen, classes, amt, keys


def keys_of(ie_rows):
    """Expenditure vertex keys as the benchmark reads them back:
    file_num|tran_id."""
    return sorted(f"{row[15]}|{row[17]}" for row in ie_rows)


def write_pipe(path, lines):
    with open(path, "w") as f:
        for ln in lines:
            f.write("|".join(ln) + "\n")


def write_ie(path, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
        w.writerow(IE_HEADER)
        w.writerows(rows)


def generate(seed, out, n_indiv=FEC_INDIV):
    cy = Cycle(seed, n_indiv)
    cy.dims()
    r = cy.r
    cdir = os.path.join(out, "cycle")
    os.makedirs(cdir, exist_ok=True)
    write_pipe(f"{cdir}/cn22.txt", cy.cands)
    write_pipe(f"{cdir}/cm22.txt", cy.cmtes)
    write_pipe(f"{cdir}/ccl22.txt", cy.links)

    indiv = cy.with_dups([cy.indiv_line() for _ in range(n_indiv)], 0.03,
                         "exact_dup")
    oth = cy.with_dups([cy.oth_line() for _ in range(n_indiv // 4)], 0.03,
                       "exact_dup")
    opp = [cy.oppexp_line() for _ in range(n_indiv // 10)]
    ie_rows, ie_live = cy.ie_chain(max(20, n_indiv // 40))
    r.shuffle(ie_rows)
    count_zip(cy.tally, indiv)
    write_pipe(f"{cdir}/indiv22.txt", indiv)
    write_pipe(f"{cdir}/oth22.txt", oth)
    edir = os.path.join(out, "expenditures")
    os.makedirs(edir, exist_ok=True)
    write_pipe(f"{edir}/oppexp22.txt", opp)
    write_ie(f"{edir}/independent_expenditure_2022.csv", ie_rows)

    master, classes, amt, keys = contribution_tally(oth + indiv)
    loaded = set(keys)
    expected = {
        "seed": seed,
        "dims": {"cn22": len(cy.cands), "cm22": len(cy.cmtes),
                 "ccl22": len(cy.links), "donors": len(cy.donors)},
        "lines": {"indiv22": len(indiv), "oth22": len(oth),
                  "oppexp22": len(opp), "independent_expenditure_2022":
                  len(ie_rows)},
        "shares": dict(cy.tally),
        "load": {
            "master_contributions": len(master),
            "classified": dict(sorted(classes.items())),
            "elastic_rows": sum(classes.values()),
            "contribution_docs": len(loaded),
            "contribution_vertices": len(loaded),
            "amount_sum": f"{amt:.2f}",
            "expenditure_vertices": 0,
            "expenditure_keys": [],
        },
        "deltas": [],
    }
    # every contribution key already loaded (for replay lines)
    prior_lines = [ln for ln in indiv if not ln[18]]
    amt_total = amt
    n_new = max(40, n_indiv // 50)
    for k, kind in ((1, "contributions"), (2, "amendments")):
        ddir = os.path.join(out, f"delta_{k}")
        os.makedirs(ddir, exist_ok=True)
        d_indiv, d_oth, d_opp, d_ie = [], [], [], []
        targets, amendments, replay, new = [], [], [], []
        if kind == "contributions":
            # late filings, exact duplicates inside the batch, and lines
            # re-sent although already loaded
            new = [cy.indiv_line() for _ in range(n_new)]
            replay = [list(r.choice(prior_lines)) for _ in range(n_new // 20)]
            d_indiv = cy.with_dups(new, 0.05, "delta_exact_dup") + replay
            r.shuffle(d_indiv)
            d_oth = [cy.oth_line() for _ in range(n_new // 4)]
        else:
            # the cycle's expenditure files are loaded before this batch
            last = expected["deltas"][-1]
            expected["expenditures"] = dict(
                {k: last[k] for k in ("contribution_docs",
                                      "contribution_vertices", "amount_sum")},
                master_expenditures=sum(1 for o in opp if not o[18])
                + len(ie_rows),
                expenditure_vertices=len(ie_live),
                expenditure_keys=keys_of(ie_live),
                ie_amended_in_cycle=len(ie_rows) - len(ie_live))
            # amendments of loaded, still-live expenditures, plus fresh
            # expenditures with their own amendment chains
            targets = r.sample(sorted(ie_live, key=lambda x: x[15]),
                               min(5, len(ie_live)))
            amendments = [cy.ie_row(prev=t) for t in targets]
            fresh, fresh_live = cy.ie_chain(max(4, n_new // 40))
            d_ie = amendments + fresh
            r.shuffle(d_ie)
            d_opp = [cy.oppexp_line() for _ in range(n_new // 10)]
            for t in targets:
                ie_live.remove(t)
            ie_live.extend(amendments)
            ie_live.extend(fresh_live)
        # a batch carries only the files it has rows for
        if kind == "contributions":
            write_pipe(f"{ddir}/indiv22.txt", d_indiv)
            write_pipe(f"{ddir}/oth22.txt", d_oth)
        else:
            write_pipe(f"{ddir}/oppexp22.txt", d_opp)
            write_ie(f"{ddir}/independent_expenditure_2022.csv", d_ie)

        _, _, _, d_keys = contribution_tally(d_oth + d_indiv)
        new_keys = set(d_keys) - loaded
        # each new key counts once, although in-batch duplicates repeat it
        by_key = {int(ln[20]): ln for ln in d_oth + d_indiv if not ln[18]}
        amt_total += sum((Decimal(by_key[k][14]) for k in new_keys),
                         Decimal(0))
        loaded |= new_keys
        prior_lines.extend(ln for ln in d_indiv if not ln[18])
        expected["deltas"].append({
            "kind": kind,
            "lines": {"indiv22": len(d_indiv), "oth22": len(d_oth),
                      "oppexp22": len(d_opp),
                      "independent_expenditure_2022": len(d_ie)},
            "new_keys": len(new_keys),
            "in_batch_dups": len(d_indiv) - len(new) - len(replay),
            "replayed_lines": len(replay),
            "contribution_docs": len(loaded),
            "contribution_vertices": len(loaded),
            "amount_sum": f"{amt_total:.2f}",
            "expenditure_vertices": len(ie_live) if k > 1 else 0,
            "expenditure_keys": keys_of(ie_live) if k > 1 else [],
            "amended": keys_of(targets),
            "amendments": keys_of(amendments),
        })
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)


if __name__ == "__main__":
    main()
