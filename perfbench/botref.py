"""Independent pandas reference for the EthBot results the `bots`
workload checks: the reference bot's own algorithm (resample to a 60 s
grid with forward fill, tick polarity, 1.0001^tick prices, the common
grid, mean-reversion and z-score FSM backtests, monthly returns),
written from the algorithm's description rather than from the program.
"""
import glob
import os
import re

import numpy as np
import pandas as pd

PATTERN = re.compile(r".*/(DAI|USDC|USDT)ETH(100|500|3000)_Swap\.csv$")


def prices(swap_dir):
    frames = []
    for f in sorted(glob.glob(os.path.join(swap_dir, "*ETH*_Swap.csv"))):
        m = PATTERN.match(f)
        if not m:
            continue
        df = pd.read_csv(f, dtype=str, usecols=[0, 1], header=0, names=["ts", "tick"])
        df["ts"] = pd.to_numeric(df["ts"], errors="coerce")
        df["tick"] = pd.to_numeric(df["tick"], errors="coerce")
        df = df.dropna().astype({"ts": np.int64, "tick": np.int64})
        if df["tick"].median() >= 0:
            df["tick"] = -df["tick"]
        df["bucket"] = df["ts"] // 60 * 60
        last = df.sort_values("ts", kind="stable").groupby("bucket")["tick"].last()
        grid = np.arange(last.index.min(), last.index.max() + 60, 60)
        s = last.reindex(grid).ffill()
        frames.append(pd.DataFrame({"pool": m.group(1) + "ETH" + m.group(2),
                                    "bucket": grid, "price": 1.0001 ** s.values}))
    long = pd.concat(frames)
    n_pools = long["pool"].nunique()
    full = long.groupby("bucket")["pool"].transform("size") == n_pools
    g = long[full].copy()
    g["mean_price"] = g.groupby("bucket")["price"].transform("mean")
    return g.sort_values(["pool", "bucket"]).reset_index(drop=True)


def mean_reversion(g, thr):
    out = []
    for pool, df in g.groupby("pool"):
        side = None
        for b, p, m in zip(df["bucket"], df["price"], df["mean_price"]):
            d = (p - m) / m
            if side is None:
                if d <= -thr:
                    side, et, ep = "long", b, p
                elif d >= thr:
                    side, et, ep = "short", b, p
            elif (side == "long" and d >= 0) or (side == "short" and d <= 0):
                ret = (p - ep) / ep if side == "long" else (ep - p) / ep
                out.append([pool, side, int(et), int(b), ep, p, ret])
                side = None
    return out


def zscore(g, lookback, entry, exit_, max_hold):
    out = []
    for pool, df in g.groupby("pool"):
        dev = df["price"] - df["mean_price"]
        roll = dev.rolling(lookback, min_periods=lookback)
        z = ((dev - roll.mean()) / roll.std(ddof=0)).values
        side = None
        for idx, (b, p, zv) in enumerate(zip(df["bucket"], df["price"], z)):
            if np.isnan(zv):
                continue
            if side is None:
                if zv <= -entry:
                    side, ei, et, ep, ez = "long", idx, b, p, zv
                elif zv >= entry:
                    side, ei, et, ep, ez = "short", idx, b, p, zv
            else:
                held = idx - ei
                if (side == "long" and zv >= -exit_) or (side == "short" and zv <= exit_) \
                        or held >= max_hold:
                    ret = (p - ep) / ep if side == "long" else (ep - p) / ep
                    out.append([pool, side, int(et), int(b), ep, p, ez, zv, ret, held])
                    side = None
    return out


def monthly(trades, ret_idx):
    sums = {}
    for t in trades:
        month = pd.Timestamp(t[3], unit="s").strftime("%Y-%m-01")
        sums[month] = sums.get(month, 0.0) + t[ret_idx]
    return [[m, s] for m, s in sorted(sums.items())]


def expected(swap_dir):
    g = prices(swap_dir)
    zs = zscore(g, 1440, 2.0, 0.2, 10080)
    return {"EthBot.tradesZscore": zs,
            "EthBot.monthlyReturns": monthly(zs, 8),
            "meanrev_trades": mean_reversion(g, 0.10 / 100.0)}
