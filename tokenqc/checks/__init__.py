"""QC check operators.

Each gate mirrors one capability row of SURVEY.md section 2.10 (the
reference's check map). Row-level gates (completeness, structural,
format, referential, token lints) expose ``facets(cfg)`` — named
boolean Columns, selected by ``row_level_facets`` — so the runner fuses
them into a single scan; key/join/group-level gates
(uniqueness, invariant, drift) expose ``violations``/``verdicts``
builders of their own.
"""

from tokenqc.checks.base import CheckConfig, Facet  # noqa: F401


def row_level_facets(cfg: CheckConfig, with_referential: bool = True) -> list[Facet]:
    """The row-level facets `cfg.checks` enables, in one fixed order —
    the one selector the batch runner, the streaming pass and the
    oracle harness share. Referential facets need the allowed-sources
    dimension attached (`referential.attach`); pass
    ``with_referential=False`` when there is none. Token lints keep
    their own opt-in (a lint configured None contributes no facet)."""
    from tokenqc.checks import completeness, referential, structural, tokens
    from tokenqc.checks import format as format_check

    fs: list[Facet] = []
    for check, module in (
        ("completeness", completeness),
        ("structural", structural),
        ("format", format_check),
        ("referential", referential),
        ("tokens", tokens),
    ):
        if check in cfg.checks and (check != "referential" or with_referential):
            fs += module.facets(cfg)
    return fs
