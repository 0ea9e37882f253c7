"""Synthetic M5 inputs in the public file schemas, plus held-out truth.

Files written to ``out_dir``:

- ``sales_train_evaluation.csv`` wide: id, item_id, dept_id, cat_id,
  store_id, state_id, d_1..d_T
- ``calendar.csv``: T + 28 days (the real file also covers the horizon)
- ``sell_prices.csv``: weekly prices, missing before a late item's launch
  and for a few random early weeks, never in the last five weeks
- ``sample_submission.csv``: id, F1..F28 zeros for every ``_validation``
  and ``_evaluation`` id
- ``history.csv`` long (id, date, units_sold) from each series' first sale
- ``truth.csv`` long (id, date, units_sold) for the 28 held-out days
- ``meta.json``: dates the pipeline config needs

Demand is Poisson around a per-series base rate with weekday and yearly
seasonality, price promotions and SNAP-day boosts, so most series are
intermittent (the Tweedie objective's use case).
"""
import datetime as dt
import json
import os

import numpy as np

HORIZON = 28
DEPTS = [("FOODS_1", "FOODS"), ("FOODS_2", "FOODS"),
         ("HOBBIES_1", "HOBBIES"), ("HOUSEHOLD_1", "HOUSEHOLD")]
STATES = ["CA", "TX", "WI"]
WEEKDAYS = ["Saturday", "Sunday", "Monday", "Tuesday", "Wednesday",
            "Thursday", "Friday"]
WDAY_MULT = np.array([1.30, 1.25, 0.90, 0.85, 0.85, 0.90, 1.05])
EVENTS = [("SuperBowl", "Sporting"), ("ValentinesDay", "Cultural"),
          ("Easter", "Cultural"), ("IndependenceDay", "National"),
          ("Halloween", "Cultural"), ("Thanksgiving", "National"),
          ("Christmas", "National")]
START = dt.date(2015, 1, 3)  # a Saturday: M5 weeks run Saturday..Friday


def _write(path, header, rows):
    with open(path, "w", newline="\n") as f:
        f.write(header + "\n")
        for r in rows:
            f.write(r + "\n")


def generate(out_dir, seed, stores=2, items=60, days=420):
    rng = np.random.default_rng([seed, 5])
    os.makedirs(out_dir, exist_ok=True)
    total = days + HORIZON
    dates = [START + dt.timedelta(days=i) for i in range(total)]
    wday = np.arange(total) % 7  # 0 = Saturday
    week = np.arange(total) // 7
    wm_yr_wk = 11101 + week

    store_ids = [f"{STATES[s % 3]}_{s // 3 + 1}" for s in range(stores)]
    snap = {st: np.array([1 if d.day <= 10 and (d.day + k) % 3 != 0 else 0
                          for d in dates]) for k, st in enumerate(STATES)}
    event_days = {int(i): EVENTS[int(j)] for i, j in zip(
        rng.choice(total, size=max(1, total // 60), replace=False),
        rng.integers(0, len(EVENTS), size=max(1, total // 60)))}

    cal_rows = []
    for i, d in enumerate(dates):
        ev = event_days.get(i, ("", ""))
        cal_rows.append(",".join([
            d.isoformat(), str(wm_yr_wk[i]), WEEKDAYS[wday[i]], str(wday[i] + 1),
            str(d.month), str(d.year), f"d_{i + 1}", ev[0], ev[1], "", "",
            str(snap["CA"][i]), str(snap["TX"][i]), str(snap["WI"][i])]))
    _write(os.path.join(out_dir, "calendar.csv"),
           "date,wm_yr_wk,weekday,wday,month,year,d,event_name_1,event_type_1,"
           "event_name_2,event_type_2,snap_CA,snap_TX,snap_WI", cal_rows)

    item_ids, item_dept = [], []
    for k in range(items):
        dept, cat = DEPTS[k % len(DEPTS)]
        item_ids.append(f"{dept}_{k // len(DEPTS) + 1:03d}")
        item_dept.append((dept, cat))
    base_price = np.round(rng.uniform(0.5, 20.0, size=items), 2)
    n_weeks = int(week[-1]) + 1
    last_train_week = int(week[days - 1])

    sales_rows, price_rows, hist_rows, truth_rows, ids = [], [], [], [], []
    yearly = 1.0 + 0.15 * np.sin(2 * np.pi * np.arange(total) / 365.25)
    for st in store_ids:
        state = st.split("_")[0]
        for k, item in enumerate(item_ids):
            dept, cat = item_dept[k]
            # ~1 in 8 items launches late: no price (and no sales) before
            launch = int(rng.integers(30, days // 3)) if rng.random() < 0.125 else 0
            launch_week = launch // 7
            missing = set(int(w) for w in rng.choice(
                np.arange(launch_week, max(launch_week + 1, last_train_week - 5)),
                size=2, replace=True)) if rng.random() < 0.2 else set()
            promo = rng.random(n_weeks) < 0.1
            price = np.where(promo, np.round(base_price[k] * 0.8, 2), base_price[k])
            has_price = np.array([w >= launch_week and w not in missing
                                  for w in range(n_weeks)])
            for w in range(n_weeks):
                if has_price[w]:
                    price_rows.append(f"{st},{item},{11101 + w},{price[w]:.2f}")
            lam = float(np.clip(rng.lognormal(mean=-0.5, sigma=1.0), 0.05, 20.0))
            rate = lam * WDAY_MULT[wday] * yearly * (price[week] / base_price[k]) ** -2.0
            if cat == "FOODS":
                rate = rate * (1.0 + 0.15 * snap[state])
            y = rng.poisson(rate)
            y[:launch] = 0
            y[~has_price[week]] = 0
            sid = f"{item}_{st}"
            ids.append(sid)
            sales_rows.append(",".join([f"{sid}_evaluation", item, dept, cat, st, state]
                                       + [str(v) for v in y[:days]]))
            first = int(np.argmax(y[:days] > 0)) if (y[:days] > 0).any() else days - 1
            for i in range(first, days):
                hist_rows.append(f"{sid}_evaluation,{dates[i].isoformat()},{y[i]}")
            for i in range(days, total):
                truth_rows.append(f"{sid}_evaluation,{dates[i].isoformat()},{y[i]}")

    _write(os.path.join(out_dir, "sales_train_evaluation.csv"),
           "id,item_id,dept_id,cat_id,store_id,state_id,"
           + ",".join(f"d_{i + 1}" for i in range(days)), sales_rows)
    _write(os.path.join(out_dir, "sell_prices.csv"),
           "store_id,item_id,wm_yr_wk,sell_price", price_rows)
    zeros = ",".join(["0"] * HORIZON)
    _write(os.path.join(out_dir, "sample_submission.csv"),
           "id," + ",".join(f"F{i + 1}" for i in range(HORIZON)),
           [f"{sid}_{kind},{zeros}" for kind in ("validation", "evaluation")
            for sid in ids])
    _write(os.path.join(out_dir, "history.csv"), "id,date,units_sold", hist_rows)
    _write(os.path.join(out_dir, "truth.csv"), "id,date,units_sold", truth_rows)
    meta = {
        "stores": store_ids, "items": items, "days": days, "horizon": HORIZON,
        "train_start_date": dates[0].isoformat(),
        "train_end_date": dates[days - 8].isoformat(),
        "test_start_date": dates[days - 7].isoformat(),
        "test_end_date": dates[days - 1].isoformat(),
        "series": len(ids),
    }
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta
