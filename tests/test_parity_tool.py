"""The parity tool's own logic, without a Spark session: the dtype
checks in ``compare`` and the flag parser."""

from __future__ import annotations

from decimal import Decimal

import pandas as pd
import pytest

from tools.parity import compare, parse_args


def test_compare_flags_decimal_objects_in_the_oracle():
    """Both sides hold ``Decimal`` objects, so the dtype kinds agree
    (object) and every value matches, but a value hash sees the oracle's
    Decimals, not plain numbers: ``compare`` must flag the column."""
    spark_pdf = pd.DataFrame({"k": [1, 2], "v": [Decimal("1.50"), Decimal("2.25")]})
    duck_pdf = pd.DataFrame({"k": [1, 2], "v": [Decimal("1.50"), Decimal("2.25")]})
    problems = compare("decimal", spark_pdf, duck_pdf)
    assert len(problems) == 1 and "'v'" in problems[0], problems
    assert "Decimal" in problems[0]


def test_compare_accepts_string_object_columns():
    pdf = pd.DataFrame({"k": [1, 2], "s": ["a", None]})
    assert compare("strings", pdf, pdf.copy()) == []


def test_parse_args_tz_without_operand_exits_2():
    with pytest.raises(SystemExit) as exc:
        parse_args(["--tz"])
    assert exc.value.code == 2


def test_parse_args_malformed_conf_exits_2():
    with pytest.raises(SystemExit) as exc:
        parse_args(["--conf", "foo"])
    assert exc.value.code == 2


def test_parse_args_static_conf_implies_bare(tmp_path):
    args = parse_args(
        ["--static-conf", "a=b", str(tmp_path), "q01", "--conf", "x=y=z", "q02"]
    )
    assert args.bare
    assert args.static_conf == [("a", "b")]
    assert args.conf == [("x", "y=z")]
    assert args.sf_dir == str(tmp_path)
    assert args.queries == ["q01", "q02"]


def test_parse_args_first_operand_is_a_query_unless_a_path():
    args = parse_args(["q01", "q02"])
    assert not args.bare
    assert args.queries == ["q01", "q02"]
    assert args.sf_dir == parse_args([]).sf_dir
