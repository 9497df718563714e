"""Field-level event merge — the reference's autoremediation payload
semantics (``_mergeEvents``) as one JVM-side fold per key.

Reference: /root/reference/clients/errorqueue.py:187-417.  Events carry
attribute-level payloads — an ``added`` event has the object's flat
attrs; a ``modified`` event has three maps (added / modified / removed
attrs); a ``removed`` event needs no payload.  When a key has several
pending events they merge PAIRWISE in order:

    added    + modified → added, attrs updated field-wise   :237-252
    added    + removed  → both dropped                      :253-258
    removed  + added    → modified(diff vs cached object)   :259-347
    modified + modified → field-level 3-way merge           :348-399
    modified + removed  → removed                           :400-409

The field-level modified+modified rules (errorqueue.py:352-390):
  * last.added[k]=v    → acc.added[k]=v;   k leaves acc.removed
  * last.modified[k]=v → if k∈acc.added: acc.added[k]=v
                         else acc.modified[k]=v
  * last.removed[k]    → if k∈acc.added: k leaves acc.added (dropped)
                         else k leaves acc.modified, enters acc.removed

Spark restatement: ``compact_events_map`` folds each key's
offset-ordered event run with ``F.aggregate`` over map-typed columns —
higher-order map functions only, zero Python per row, one shuffle
(the groupBy).  The removed+added case needs the object's prior cached
state to compute the diff (the reference reads the datasource cache);
pass ``prior`` (key → flat attrs map) and the fold result ``readded``
is finalized into modified(diff) exactly like ``Event.fromDiffItem``.

Invalid pairs the reference asserts on (added+added, removed+modified,
removed+removed, modified+added — errorqueue.py:223-236) are made
total here: the later event wins (restart-from-event), flagged in the
``violation`` output column so a DLQ policy can quarantine them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_EMPTY = "cast(map() as map<string,string>)"


def _e() -> Column:
    return F.expr(_EMPTY)


def _minus(m: Column, keys: Column) -> Column:
    """Map m without the keys in array ``keys``."""
    return F.map_filter(m, lambda k, _v: ~F.array_contains(keys, k))


def _over(base: Column, upd: Column) -> Column:
    """Map union, ``upd`` overwriting ``base`` on key collisions."""
    return F.map_concat(_minus(base, F.map_keys(upd)), upd)


def _state(st: Column | str, flat: Column, a: Column, m: Column, r: Column,
           viol: Column) -> Column:
    return F.struct(
        (F.lit(st) if isinstance(st, str) else st).alias("st"),
        flat.alias("flat"),
        a.alias("a"),
        m.alias("m"),
        r.alias("r"),
        viol.alias("viol"),
    )


def _fresh(t: Column, fa: Column, la: Column, lm: Column, lr: Column,
           viol: Column) -> Column:
    """State built from one event alone (run start / restart)."""
    return (
        F.when(t == "added", _state("added", fa, _e(), _e(), _e(), viol))
        .when(t == "modified", _state("modified", _e(), la, lm, lr, viol))
        .otherwise(_state("removed", _e(), _e(), _e(), _e(), viol))
    )


def _step(acc: Column, ev: Column) -> Column:
    st, flat = acc["st"], acc["flat"]
    a, m, r, viol = acc["a"], acc["m"], acc["r"], acc["viol"]
    t = ev["op"]
    fa = F.coalesce(ev["attrs"], _e())
    la = F.coalesce(ev["added"], _e())
    lm = F.coalesce(ev["modified"], _e())
    lr = F.coalesce(ev["removed"], _e())

    # added/readded + modified: attrs updated field-wise (ref :237-252)
    upd_flat = _minus(_over(_over(flat, la), lm), F.map_keys(lr))

    # modified + modified field-level merge (ref :348-399)
    a1 = _over(a, la)
    r1 = _minus(r, F.map_keys(la))
    lm_in_a = F.map_filter(lm, lambda k, _v: F.map_contains_key(a1, k))
    lm_not_a = F.map_filter(lm, lambda k, _v: ~F.map_contains_key(a1, k))
    a2 = _over(a1, lm_in_a)
    m2 = _over(m, lm_not_a)
    lr_in_a = F.filter(F.map_keys(lr), lambda k: F.map_contains_key(a2, k))
    lr_not_a = F.map_filter(lr, lambda k, _v: ~F.map_contains_key(a2, k))
    a3 = _minus(a2, lr_in_a)
    m3 = _minus(m2, F.map_keys(lr_not_a))
    r3 = _over(r1, lr_not_a)

    restart = _fresh(t, fa, la, lm, lr, viol)          # from empty/annihilated
    violated = _fresh(t, fa, la, lm, lr, F.lit(True))  # invalid pair: later event wins

    return (
        F.when(st.isin("empty", "annihilated"), restart)
        .when(
            st.isin("added", "readded"),
            F.when(t == "modified", _state(st, upd_flat, _e(), _e(), _e(), viol))
            .when(
                t == "removed",
                # added+removed annihilates a fresh object; a re-add of a
                # pre-existing object folds back to plain removed
                F.when(st == "added",
                       _state("annihilated", _e(), _e(), _e(), _e(), viol))
                .otherwise(_state("removed", _e(), _e(), _e(), _e(), viol)),
            )
            .otherwise(violated),  # added+added: ref asserts (:223-236)
        )
        .when(
            st == "modified",
            F.when(t == "modified", _state("modified", _e(), a3, m3, r3, viol))
            .when(t == "removed", _state("removed", _e(), _e(), _e(), _e(), viol))
            .otherwise(violated),  # modified+added: ref asserts
        )
        .when(
            st == "removed",
            # removed+added → diff vs prior cache, finalized downstream
            F.when(t == "added", _state("readded", fa, _e(), _e(), _e(), viol))
            .otherwise(violated),  # removed+modified / removed+removed: ref asserts
        )
        .otherwise(violated)
    )


# the CDC op vocabulary, accepted as its _mergeEvents counterpart
CDC_OPS = {"insert": "added", "update": "modified", "delete": "removed"}
MAPS = ("attrs", "added", "modified", "removed")


def fold_state(run: Column, has: Sequence[str]) -> Column:
    """The pairwise ``_mergeEvents`` fold of one key's offset-ordered
    array of event rows: structs with an ``op`` in either vocabulary
    and, of the four maps, the ones named in ``has`` (the others read
    empty).  Select it as a column, then ``finalize_fold`` it — so the
    fold runs once per key."""
    ev = F.transform(run, lambda r: F.struct(
        F.coalesce(
            *[F.when(r["op"] == a, F.lit(b)) for a, b in CDC_OPS.items()],
            r["op"],
        ).alias("op"),
        *[(r[m] if m in has else _e()).alias(m) for m in MAPS],
    ))
    init = _state("empty", _e(), _e(), _e(), _e(), F.lit(False))
    return F.aggregate(ev, init, _step)


def finalize_fold(
    s: Column, prior_attrs: Column | None = None
) -> dict[str, Column]:
    """The event a fold state stands for: op (NULL = no event), attrs,
    added, modified, removed and violation.  ``prior_attrs`` (the
    cached flat attrs, NULL = no cached object) turns a removed+added
    run into modified(diff) (ref :259-347)."""
    if prior_attrs is not None:
        pr = F.coalesce(prior_attrs, _e())
        has_prior = prior_attrs.isNotNull()
    else:
        pr = _e()
        has_prior = F.lit(False)

    fa = s["flat"]
    # removed+added finalization: Event.fromDiffItem(new.diffFrom(current))
    d_add = F.map_filter(fa, lambda k, _v: ~F.map_contains_key(pr, k))
    d_mod = F.map_filter(fa, lambda k, v: F.map_contains_key(pr, k) & (pr[k] != v))
    d_rem = F.map_filter(pr, lambda k, _v: ~F.map_contains_key(fa, k))
    diff_empty = (F.size(d_add) == 0) & (F.size(d_mod) == 0) & (F.size(d_rem) == 0)

    op = (
        F.when(s["st"] == "added", F.lit("added"))
        .when(s["st"] == "modified", F.lit("modified"))
        .when(s["st"] == "removed", F.lit("removed"))
        .when(s["st"] == "readded",
              F.when(~has_prior, F.lit("added"))           # no cached object (ref warns)
              .when(diff_empty, F.lit(None))               # empty diff → ignored (:333-347)
              .otherwise(F.lit("modified")))
        .otherwise(F.lit(None))                            # empty / annihilated
    )
    readded_mod = (s["st"] == "readded") & has_prior
    return {
        "op": op,
        "attrs": F.when(s["st"] == "added", s["flat"])
        .when(readded_mod, _e())
        .when(s["st"] == "readded", s["flat"]).otherwise(_e()),
        "added": F.when(readded_mod, d_add).otherwise(s["a"]),
        "modified": F.when(readded_mod, d_mod).otherwise(s["m"]),
        "removed": F.when(readded_mod, d_rem).otherwise(s["r"]),
        "violation": s["viol"],
    }


def compact_events_map(
    events: DataFrame,
    key: Sequence[str],
    op_col: str = "op",
    offset_col: str = "offset",
    attrs_col: str = "attrs",
    added_col: str = "added",
    modified_col: str = "modified",
    removed_col: str = "removed",
    prior: DataFrame | None = None,
    prior_attrs_col: str = "attrs",
) -> DataFrame:
    """Fold each key's event run into at most one field-level event.

    Input: one row per event with op ∈ {added, modified, removed},
    a total order ``offset_col``, flat ``attrs_col`` map (added
    events) and ``added/modified/removed`` maps (modified events).
    ``prior``: the object cache (key cols + flat attrs map) used to
    diff removed+added runs into modified events (ref :259-347); keys
    re-added with no cached prior degrade to plain ``added``.

    Output: key cols, op, attrs, added, modified, removed, violation.
    Keys whose run annihilates (added…removed) or folds to an empty
    modified diff (ref :333-347) produce no row.
    """
    key = list(key)
    cols = dict(zip(MAPS, (attrs_col, added_col, modified_col, removed_col)))
    has = [m for m, c in cols.items() if c in events.columns]
    ev = F.struct(
        F.col(op_col).alias("op"), *[F.col(cols[m]).alias(m) for m in has]
    )
    runs = events.groupBy(*key).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(offset_col).alias("off"), ev.alias("ev"))),
            by_offset,
        ).alias("_run"),
        F.max(offset_col).alias(offset_col),
    )
    folded = runs.select(
        *key, offset_col,
        fold_state(F.transform("_run", lambda x: x["ev"]), has).alias("_s"),
    )
    prior_attrs = None
    if prior is not None:
        p = prior.select(
            *key, F.col(prior_attrs_col).alias("_prior_attrs")
        )
        folded = folded.join(p, key, "left_outer")
        prior_attrs = F.col("_prior_attrs")
    out = finalize_fold(F.col("_s"), prior_attrs)
    return folded.select(
        *key, offset_col, *[c.alias(n) for n, c in out.items()]
    ).where(F.col("op").isNotNull())


def by_offset(left: Column, right: Column) -> Column:
    """``array_sort`` comparator on the ``off`` field alone: structs
    holding maps have no default ordering, and event payload order
    must not matter anyway."""
    return (
        F.when(left["off"] < right["off"], F.lit(-1))
        .when(left["off"] > right["off"], F.lit(1))
        .otherwise(F.lit(0))
    )
