"""Seeded generator for dirty orders and products CSVs.

The files follow the reference input format (FIXTURES.md F1-F3): a
leading unnamed index column on orders, all values as text, and the
reference data's dirt profile:

- about 8% of order ``product_id`` values carry a letter somewhere
  (``529629c``, ``34f5656``);
- about 4% of ``sum`` values use a decimal comma (``"1300,65"``, quoted);
- about 40% of rows repeat an ``(order_source_id, product_id)`` pair
  already seen (1003 of 2502 in the reference data), with different
  values in the other columns, so only first-occurrence dedup is right;
- rare HTML-entity names, Cyrillic and Latin names, and the blanking
  cases of the name cleaner (lone dash, one letter, all consonants,
  digits);
- about 0.5% of order pairs name a product that is not in products;
- about 0.2% of product rows repeat an earlier ``product_id`` with
  another price, so products dedup matters too.

The same seed and sizes give the same bytes. ``write_dataset`` also
writes ``truth.json``: the counts the generator knows by construction.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np

ORDERS_HEADER = (
    ",order_source_id,order_created_datetime,customer_id,status,sum,"
    "quantity,name,surname,patronymic,product_id"
)
PRODUCTS_HEADER = "product_id,price,goods_group,manufacturer"

GOODS_GROUPS = [
    "Дитячі машинки",
    "Ігрові фігурки",
    "Для активного відпочинку",
    "Конструктори",
    "Ляльки",
    "Настільні ігри",
    "Пазли",
    "Мʼякі іграшки",
    "Творчість",
    "Залізниці",
    "Радіокеровані моделі",
    "Іграшкова зброя",
    "Розвиваючі іграшки",
]
_BRANDS = ["BIC", "CARS", "LENA", "MZ", "Bugs", "LEGO", "Hasbro", "Mattel"]
MANUFACTURERS = _BRANDS + [f"BRAND-{i:03d}" for i in range(418 - len(_BRANDS))]

FIRST_NAMES = [
    "олена", "ірина", "марія", "оксана", "наталія", "тетяна", "андрій",
    "олександр", "сергій", "володимир", "дмитро", "юлія", "анна", "віктор",
    "Olena", "Iryna", "Maria", "Andrii", "Serhii", "Yulia", "Ivan", "Petro",
]
SURNAMES = [
    "шевченко", "коваленко", "бондаренко", "ткаченко", "кравченко",
    "іванова-шипак", "мельник", "петренко", "Shevchenko", "Kovalenko",
    "Melnyk", "Bondar", "Tkachuk", "Kravets", "Lysenko", "Moroz",
]
PATRONYMICS = [
    "олександрівна", "іванівна", "петрівна", "сергіївна", "андрійович",
    "володимирович", "миколайович", "Ivanivna", "Petrovych", "",
]
# values that exercise the entity decode and the blanking rules
ENTITY_NAMES = ["в&#039;ячеславівна", "мар&#039;яна", "д&#039;арк", "o&#039;neil"]
ODD_NAMES = ["-", "я", "m", "с", "ddd", "аоу", "olena2", "кіт", " ірина", "5"]

STATUSES = np.array(["Paid", "Failed", "Accepted", "Waiting_Accepted"])
STATUS_P = [0.82, 0.17, 0.006, 0.004]
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

OUTPUT_SHARE = 1499 / 2502  # distinct pairs / raw rows in the reference data
DUP_PAIR_SHARE = 687 / 1499  # pairs that repeat, in the reference data


@dataclass
class Dataset:
    orders_csv: str
    products_csv: str
    truth: dict
    # first-occurrence products, for the similarity oracle
    products: dict


def _names(rng: np.random.Generator, pool: list[str], n: int,
           entity_p: float, odd_p: float) -> tuple[list[str], int]:
    """Draw ``n`` names from ``pool``; a share is replaced by entity or
    blanking-case values. Returns the names and the entity count."""
    out = np.array(pool, dtype=object)[rng.integers(0, len(pool), size=n)]
    u = rng.random(n)
    ent = u < entity_p
    odd = (u >= entity_p) & (u < entity_p + odd_p)
    out[ent] = np.array(ENTITY_NAMES, dtype=object)[
        rng.integers(0, len(ENTITY_NAMES), size=int(ent.sum()))
    ]
    out[odd] = np.array(ODD_NAMES, dtype=object)[
        rng.integers(0, len(ODD_NAMES), size=int(odd.sum()))
    ]
    return out.tolist(), int(ent.sum())


def generate(seed: int, n_orders: int, n_products: int) -> tuple[list[str], list[str], dict, dict]:
    """Build the orders and products CSV lines, the truth counts and the
    first-occurrence products table (id -> (price, group, manufacturer))."""
    rng = np.random.default_rng(seed)

    # -- products ----------------------------------------------------------
    pids = rng.choice(np.arange(100_000, 1_000_000), size=n_products, replace=False)
    cents = rng.integers(1_000, 200_000, size=n_products)
    groups = rng.integers(0, len(GOODS_GROUPS), size=n_products)
    manus = rng.integers(0, len(MANUFACTURERS), size=n_products)
    products = {
        int(p): (c / 100, GOODS_GROUPS[g], MANUFACTURERS[m])
        for p, c, g, m in zip(pids.tolist(), cents.tolist(), groups.tolist(), manus.tolist())
    }
    prod_rows = [
        f"{p},{c // 100}.{c % 100:02d},{GOODS_GROUPS[g]},{MANUFACTURERS[m]}"
        for p, c, g, m in zip(pids.tolist(), cents.tolist(), groups.tolist(), manus.tolist())
    ]
    # later rows repeating an id with another price: first occurrence wins
    n_dup_products = max(1, n_products // 500)
    dup_idx = rng.choice(n_products, size=n_dup_products, replace=False)
    for i in dup_idx.tolist():
        c2 = int(rng.integers(1_000, 200_000))
        pos = int(rng.integers(i + 1, n_products + 1))
        prod_rows.insert(
            pos,
            f"{pids[i]},{c2 // 100}.{c2 % 100:02d},{GOODS_GROUPS[groups[i]]},"
            f"{MANUFACTURERS[manus[i]]}",
        )

    # -- distinct (order, product) pairs -----------------------------------
    n_pairs = max(1, round(n_orders * OUTPUT_SHARE))
    n_order_ids = max(1, int(n_pairs / 1.3))
    order_ids = rng.choice(np.arange(1_000_000, 9_000_000), size=n_order_ids, replace=False)
    missing_pool = np.arange(10_000, 15_000)  # below every product id
    pairs_o: list[int] = []
    pairs_p: list[int] = []
    seen: set[tuple[int, int]] = set()
    while len(pairs_o) < n_pairs:
        k = (n_pairs - len(pairs_o)) * 2
        o = order_ids[rng.integers(0, n_order_ids, size=k)]
        miss = rng.random(k) < 0.005
        p = np.where(
            miss,
            missing_pool[rng.integers(0, len(missing_pool), size=k)],
            pids[rng.integers(0, n_products, size=k)],
        )
        for oo, pp in zip(o.tolist(), p.tolist()):
            if (oo, pp) not in seen:
                seen.add((oo, pp))
                pairs_o.append(oo)
                pairs_p.append(pp)
                if len(pairs_o) == n_pairs:
                    break
    pair_o = np.array(pairs_o, dtype=np.int64)
    pair_p = np.array(pairs_p, dtype=np.int64)

    # -- rows: every pair once, plus repeats of a subset of pairs -----------
    n_rows = max(n_orders, n_pairs)
    n_extra = n_rows - n_pairs
    dup_pairs = rng.choice(n_pairs, size=max(1, round(n_pairs * DUP_PAIR_SHARE)), replace=False)
    row_pair = np.concatenate(
        [np.arange(n_pairs), dup_pairs[rng.integers(0, len(dup_pairs), size=n_extra)]]
    )
    row_pair = row_pair[rng.permutation(n_rows)]
    ro = pair_o[row_pair]
    rp = pair_p[row_pair]

    customer = (ro * 7919) % 900_000 + 100_000
    ts = np.datetime64("2019-01-01T00:00:00") + rng.integers(0, 365 * 86400, size=n_rows).astype(
        "timedelta64[s]"
    )
    ts_s = np.datetime_as_string(ts, unit="s").tolist()
    status = STATUSES[rng.choice(4, size=n_rows, p=STATUS_P)].tolist()
    sum_cents = rng.integers(100, 500_000, size=n_rows)
    sums = [f"{c // 100}.{c % 100:02d}" for c in sum_cents.tolist()]
    comma = rng.random(n_rows) < 0.04
    for i in np.flatnonzero(comma).tolist():
        sums[i] = '"' + sums[i].replace(".", ",") + '"'  # quoted, as CSV needs
    qty = rng.integers(1, 6, size=n_rows).tolist()

    pid_s = [str(p) for p in rp.tolist()]
    lettered = rng.random(n_rows) < 0.08
    let_pos = rng.integers(0, 7, size=n_rows)
    let_chr = LETTERS[rng.integers(0, len(LETTERS), size=n_rows)]
    for i in np.flatnonzero(lettered).tolist():
        s = pid_s[i]
        j = int(let_pos[i]) % (len(s) + 1)
        pid_s[i] = s[:j] + let_chr[i] + s[j:]

    names, ent1 = _names(rng, FIRST_NAMES, n_rows, 0.002, 0.01)
    surnames, ent2 = _names(rng, SURNAMES, n_rows, 0.001, 0.005)
    patrs, ent3 = _names(rng, PATRONYMICS, n_rows, 0.002, 0.005)

    orders_rows = [
        f"{i},{o},{t},{c},{st},{sm},{q},{nm},{sn},{pt},{pd}"
        for i, (o, t, c, st, sm, q, nm, sn, pt, pd) in enumerate(
            zip(ro.tolist(), ts_s, customer.tolist(), status, sums, qty,
                names, surnames, patrs, pid_s)
        )
    ]

    product_set = set(products)
    truth = {
        "seed": seed,
        "orders_rows": n_rows,
        "products_rows": len(prod_rows),
        "products_distinct": n_products,
        "output_rows": n_pairs,
        "duplicate_rows": n_extra,
        "letter_ids": int(lettered.sum()),
        "comma_sums": int(comma.sum()),
        "entity_names": ent1 + ent2 + ent3,
        "unmatched_rows": int(sum(1 for p in pairs_p if p not in product_set)),
    }
    return orders_rows, prod_rows, truth, products


def write_dataset(out_dir: Path, seed: int, n_orders: int, n_products: int) -> Dataset:
    """Write ``orders.csv``, ``products.csv`` and ``truth.json`` under
    ``out_dir`` and return their paths with the truth counts."""
    out_dir.mkdir(parents=True, exist_ok=True)
    orders_rows, prod_rows, truth, products = generate(seed, n_orders, n_products)
    orders_csv = out_dir / "orders.csv"
    products_csv = out_dir / "products.csv"
    orders_csv.write_text("\n".join([ORDERS_HEADER, *orders_rows]) + "\n", encoding="utf-8")
    products_csv.write_text("\n".join([PRODUCTS_HEADER, *prod_rows]) + "\n", encoding="utf-8")
    truth["orders_bytes"] = orders_csv.stat().st_size
    truth["products_bytes"] = products_csv.stat().st_size
    (out_dir / "truth.json").write_text(json.dumps(truth, indent=1, sort_keys=True))
    return Dataset(str(orders_csv), str(products_csv), truth, products)
