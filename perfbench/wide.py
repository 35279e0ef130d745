"""The row-wise part of ``feature_job``: stages in short chains.

Each chain derives one feature from a base column of the transcript
table through four stages of one family (strings, hashing, datetimes or
math). A math chain first cleans its two raw input columns in place, so
about 10 % of the stages are in-place replacements. The shape follows
real Kamae feature configs: many short independent chains, not one deep
dependent chain.

A stage is described here as plain data, ``(kind, params)``; the
workload turns it into a ``kamae_spark`` transformer and the oracle
evaluates the same description with pandas, without ``kamae_spark``.
"""

from __future__ import annotations

FAMILIES = ("str", "hash", "time", "math")


def chain(i: int) -> list[tuple[str, dict]]:
    fam = FAMILIES[i % len(FAMILIES)]
    a, b, c, d = (f"f{i}_{s}" for s in "abcd")
    if fam == "str":
        return [
            ("StringCase", dict(input_col="role", output_col=a, case="upper")),
            ("StringAffix", dict(input_col=a, output_col=b, prefix=f"p{i}_")),
            ("StringContains", dict(input_cols=[b], output_col=c, constant="ASSIST")),
            ("IfStatement", dict(input_cols=[c], output_col=d, condition_operator="eq",
                                 value_to_compare_constant=True,
                                 result_if_true_constant=i, result_if_false_constant=-i)),
        ]
    if fam == "hash":
        return [
            ("HashIndex", dict(input_col="text", output_col=a, num_bins=64 + i)),
            ("Multiply", dict(input_cols=[a], output_col=b, constant=3.0)),
            ("Bin", dict(input_col=b, output_col=c, default_label="high",
                         conditions=[["lt", 50.0, "low"], ["lt", 150.0, "mid"]])),
            ("StringAffix", dict(input_col=c, output_col=d, suffix=f"_{i}")),
        ]
    if fam == "time":
        return [
            ("DateTimeToUnixTimestamp", dict(input_col="ts_str", output_col=a, unit="s")),
            ("Subtract", dict(input_cols=[a], output_col=b, constant=1.7e9 + i)),
            ("Log", dict(input_col=b, output_col=c, alpha=1.0)),
            ("Round", dict(input_col=c, output_col=d, mode="floor")),
        ]
    # math: clean two raw input columns in place, then derive from them
    r0, r1 = raw_cols_of(i)
    return [
        ("AbsoluteValue", dict(input_col=r0, output_col=r0)),
        ("Multiply", dict(input_cols=[r1], output_col=r1, constant=0.1)),
        ("Sum", dict(input_cols=[r0, r1], output_col=a, constant=20.0 + i)),
        ("Multiply", dict(input_cols=[a], output_col=b, constant=0.5)),
        ("Log", dict(input_col=b, output_col=c, alpha=1.0)),
        ("Max", dict(input_cols=[c, b], output_col=d)),
    ]


def raw_cols_of(i: int) -> tuple[str, str]:
    m = i // len(FAMILIES)
    return f"raw{2 * m}", f"raw{2 * m + 1}"


def raw_cols(n_chains: int) -> list[str]:
    """Raw numeric input columns the math chains clean in place."""
    return [c for i in range(n_chains) if i % len(FAMILIES) == 3 for c in raw_cols_of(i)]


def config(n_chains: int) -> list[tuple[str, dict]]:
    return [s for i in range(n_chains) for s in chain(i)]


def outputs(n_chains: int) -> list[str]:
    """Columns the pipeline adds, in the order it adds them."""
    raw = set(raw_cols(n_chains))
    return [p["output_col"] for _, p in config(n_chains) if p["output_col"] not in raw]
