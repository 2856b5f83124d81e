"""Seeded generator of UCI Online Retail II shaped workbooks.

The real dataset is two sheets ("Year 2009-2010", "Year 2010-2011") of
invoice lines: Invoice, StockCode, Description, Quantity, InvoiceDate,
Price, Customer ID, Country.  This generator reproduces the properties the
feature store's cost and correctness depend on:

- trading days only (no Saturdays, like the source), on both sheets when
  the days straddle the 2010-12-01 split;
- zipf-skewed customer activity with a few whales;
- about 2% cancelled invoices (``C`` prefix, negative quantities);
- sparse null customer ids, which ingest must quarantine;
- a dominant home country and a long tail of others.

``late_slice`` draws one late-arriving day's small workbook on top of a
base dataset.

Everything is drawn from ``numpy.random.default_rng(seed)``: the same seed
gives byte-identical workbooks.  Totals the correctness checks need (bronze
rows, ``sum(quantity * price)``, distinct customers) are computed here from
the drawn lines, in integer cents, never by the code under test.

Workbooks are written with the package's own minimal xlsx writer; nothing
is downloaded.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Excel 1900 date system: serial 25569 is 1970-01-01.
EXCEL_UNIX_DAYS = 25569
HEADER = ["Invoice", "StockCode", "Description", "Quantity", "InvoiceDate",
          "Price", "Customer ID", "Country"]
SHEET_SPLIT = dt.date(2010, 12, 1)
START = dt.date(2009, 12, 1)
COUNTRIES = ["United Kingdom", "Germany", "France", "EIRE", "Netherlands",
             "Spain", "Belgium", "Switzerland", "Portugal", "Australia",
             "Norway", "Italy", "Sweden", "Denmark", "Japan"]
WORDS = ["WHITE", "HANGING", "HEART", "T-LIGHT", "HOLDER", "REGENCY",
         "CAKESTAND", "JUMBO", "BAG", "RED", "RETROSPOT", "LUNCH", "BOX",
         "PARTY", "BUNTING", "ASSORTED", "COLOUR", "BIRD", "ORNAMENT",
         "VINTAGE", "GLASS", "CANDLE", "SET", "OF", "3", "TIN"]


@dataclass
class Lines:
    """Columnar invoice lines.  Prices are integer cents; ``cust`` is -1
    where the customer id is null."""

    invoice: list[str]
    sku: np.ndarray
    qty: np.ndarray
    minute: np.ndarray  # minutes since START 00:00
    price_cents: np.ndarray
    cust: np.ndarray
    country: np.ndarray

    def __len__(self) -> int:
        return len(self.invoice)


@dataclass
class Dataset:
    base: Lines
    start: dt.date
    n_days: int
    skus: list[tuple[str, str]]  # (code, description)


def trading_days(n: int, start: dt.date) -> list[dt.date]:
    """The first ``n`` days from ``start`` that are not Saturdays."""
    out, d = [], start
    while len(out) < n:
        if d.weekday() != 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def generate(
    seed: int,
    n_lines: int,
    n_customers: int,
    n_days: int = 600,
    start: dt.date = START,
    n_skus: int = 1500,
    null_customer_share: float = 0.03,
    cancel_share: float = 0.02,
) -> Dataset:
    """Draw the base workbook's lines: ``n_days`` trading days from
    ``start``."""
    rng = np.random.default_rng(seed)
    days = trading_days(n_days, start)
    day_offset = np.array([(d - START).days for d in days], dtype=np.int64)

    # zipf-ish customer weights; the top three are whales
    ranks = np.arange(1, n_customers + 1, dtype=np.float64)
    w = 1.0 / ranks**0.9
    w[:3] *= 12.0
    w /= w.sum()
    cust_ids = 12346 + rng.permutation(n_customers * 3)[:n_customers]
    cust_country = np.where(
        rng.random(n_customers) < 0.88, 0, rng.integers(1, len(COUNTRIES), n_customers)
    )

    sku_codes = [f"{20000 + i}" + ("" if i % 7 else "B") for i in range(n_skus)]
    sku_desc = [
        " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), 3)) for _ in range(n_skus)
    ]
    sku_price = rng.choice(
        np.array([29, 42, 55, 65, 85, 125, 165, 195, 250, 295, 425, 495, 850, 1250]),
        n_skus,
    )
    sku_w = 1.0 / np.arange(1, n_skus + 1) ** 0.8
    sku_w /= sku_w.sum()

    # invoices: mean ~8 lines each
    n_inv = max(1, n_lines // 8)
    inv_sizes = 1 + rng.poisson(7, n_inv)
    inv_sizes = inv_sizes[np.cumsum(inv_sizes) <= n_lines]
    if inv_sizes.sum() < n_lines:
        inv_sizes = np.append(inv_sizes, n_lines - inv_sizes.sum())
    n_inv = len(inv_sizes)
    inv_day = rng.integers(0, n_days, n_inv)
    inv_minute = day_offset[inv_day] * 1440 + rng.integers(7 * 60, 20 * 60, n_inv)
    inv_cust_idx = rng.choice(n_customers, n_inv, p=w)
    inv_null = rng.random(n_inv) < null_customer_share
    inv_cancel = rng.random(n_inv) < cancel_share
    order = np.argsort(inv_minute, kind="stable")
    inv_sizes, inv_minute = inv_sizes[order], inv_minute[order]
    inv_cust_idx, inv_null, inv_cancel = inv_cust_idx[order], inv_null[order], inv_cancel[order]

    rep = np.repeat(np.arange(n_inv), inv_sizes)
    sku = rng.choice(n_skus, len(rep), p=sku_w)
    qty = np.where(inv_cancel[rep], -1, 1) * _quantities(rng, len(rep))
    invoice_no = 489434 + np.arange(n_inv)
    inv_label = [("C" if c else "") + str(v) for c, v in zip(inv_cancel, invoice_no)]
    base = Lines(
        invoice=[inv_label[i] for i in rep],
        sku=sku.astype(np.int64),
        qty=qty.astype(np.int64),
        minute=inv_minute[rep].astype(np.int64),
        price_cents=sku_price[sku].astype(np.int64),
        cust=np.where(inv_null[rep], -1, cust_ids[inv_cust_idx[rep]]).astype(np.int64),
        country=cust_country[inv_cust_idx[rep]].astype(np.int64),
    )
    return Dataset(base=base, start=start, n_days=n_days,
                   skus=list(zip(sku_codes, sku_desc)))


def _quantities(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.choice(np.array([1, 2, 3, 4, 6, 12, 24]), n,
                      p=[0.3, 0.2, 0.1, 0.1, 0.12, 0.13, 0.05])


def late_slice(ds: Dataset, rng: np.random.Generator, n_invoices: int = 6,
               cancel_share: float = 0.02) -> tuple[str, Lines]:
    """One late-arriving day: ``n_invoices`` new invoices dated on a trading
    day that keeps a lookback before it and its 30-day backfill window
    (about 26 trading days) inside the data.  Customers, products and
    prices are drawn line-weighted from the base workbook, so the slice
    keeps its skew, its null customer ids and its countries."""
    days = trading_days(ds.n_days, ds.start)
    di = int(rng.integers(ds.n_days // 4, ds.n_days - 31))
    sizes = 1 + rng.poisson(7, n_invoices)
    rep = np.repeat(np.arange(n_invoices), sizes)
    who = rng.integers(0, len(ds.base), n_invoices)[rep]  # invoice's customer
    what = rng.integers(0, len(ds.base), len(rep))  # line's product and price
    cancel = (rng.random(n_invoices) < cancel_share)[rep]
    minute = (days[di] - START).days * 1440 + rng.integers(7 * 60, 20 * 60, n_invoices)[rep]
    first = 700_000 + int(rng.integers(0, 100_000))
    lines = Lines(
        invoice=[("C" if c else "") + str(first + k) for c, k in zip(cancel, rep)],
        sku=ds.base.sku[what],
        qty=np.where(cancel, -1, 1) * _quantities(rng, len(rep)),
        minute=minute.astype(np.int64),
        price_cents=ds.base.price_cents[what],
        cust=ds.base.cust[who],
        country=ds.base.country[who],
    )
    return days[di].isoformat(), lines


def shape_stats(lines: Lines) -> dict:
    """Shape of a line set: rows, customers, days, whale share (lines of
    the top 1% customers), quarantine rows (null customer id)."""
    known = lines.cust[lines.cust >= 0]
    ids, counts = np.unique(known, return_counts=True)
    top = max(1, len(ids) // 100)
    whale = float(np.sort(counts)[::-1][:top].sum() / max(len(known), 1))
    return {
        "rows": int(len(lines)),
        "customers": int(len(ids)),
        "days": int(len(np.unique(lines.minute // 1440))),
        "whale_share": round(whale, 4),
        "quarantine_rows": int((lines.cust < 0).sum()),
        "cancel_rows": int((lines.qty < 0).sum()),
    }


def bronze_totals(lines: Lines) -> dict:
    """What bronze must hold after ingest: rows with a customer id, and
    ``sum(quantity * price)`` over them (exact, from integer cents)."""
    keep = lines.cust >= 0
    cents = int((lines.qty[keep] * lines.price_cents[keep]).sum())
    return {
        "rows": int(keep.sum()),
        "amount": cents / 100.0,
        "customers": int(len(np.unique(lines.cust[keep]))),
    }


def concat(a: Lines, b: Lines) -> Lines:
    return Lines(invoice=a.invoice + b.invoice, **{
        f: np.concatenate([getattr(a, f), getattr(b, f)])
        for f in ("sku", "qty", "minute", "price_cents", "cust", "country")})


def window_features(lines: Lines, cust: int, windows: dict[str, int]) -> pd.DataFrame:
    """A customer's window features at each of its event times (minutes
    since START, the index), from the lines alone: ``txn_count_<w>`` and
    ``spend_<w>`` over ``[t - days, t]`` with cancelled lines left out, and
    ``tenure_days``, whole days since the first line."""
    sel = np.flatnonzero(lines.cust == cust)
    order = np.argsort(lines.minute[sel], kind="stable")
    sel = sel[order]
    m = lines.minute[sel]
    cancel = np.array([lines.invoice[i].startswith("C") for i in sel], dtype=bool)
    cents = np.where(cancel, 0, lines.qty[sel] * lines.price_cents[sel])
    txn = np.concatenate([[0], np.cumsum(~cancel)])
    spend = np.concatenate([[0], np.cumsum(cents)])
    t = np.unique(m)
    hi = np.searchsorted(m, t, side="right")
    out = {}
    for name, days in windows.items():
        lo = np.searchsorted(m, t - days * 1440, side="left")
        out[f"txn_count_{name}"] = (txn[hi] - txn[lo]).astype(np.float64)
        out[f"spend_{name}"] = (spend[hi] - spend[lo]) / 100.0
    out["tenure_days"] = ((t - m[0]) // 1440).astype(np.float64)
    return pd.DataFrame(out, index=t)


# -- xlsx writer -------------------------------------------------------------

def _serial(minute: int) -> float:
    day = START.toordinal() - dt.date(1970, 1, 1).toordinal() + EXCEL_UNIX_DAYS
    return day + minute / 1440.0


def write_xlsx(path: str, lines: Lines, skus: list[tuple[str, str]]) -> None:
    """Write ``lines`` as a two-sheet workbook split at 2010-12-01, null
    customer ids as omitted cells."""
    from retailfeaturestore_spark.sources.xlsx import write_minimal_xlsx

    split_minute = (SHEET_SPLIT - START).days * 1440
    sheets = {}
    for name, sel in (("Year 2009-2010", lines.minute < split_minute),
                      ("Year 2010-2011", lines.minute >= split_minute)):
        rows: list[list] = [list(HEADER)]
        for i in np.flatnonzero(sel):
            code, desc = skus[lines.sku[i]]
            rows.append([
                lines.invoice[i], code, desc, int(lines.qty[i]),
                _serial(int(lines.minute[i])), int(lines.price_cents[i]) / 100.0,
                float(lines.cust[i]) if lines.cust[i] >= 0 else None,
                COUNTRIES[lines.country[i]],
            ])
        sheets[name] = rows
    write_minimal_xlsx(path, sheets)
