"""MatchData — a partition of a string universe, as a DataFrame.

The reference's core abstraction (nama/match_data.py:9-34) holds three mutable
dicts (counts, labels, groups). Ours is a single immutable DataFrame with the
fixed schema ``(string, count, group)`` — exactly the reference's CSV
serialization (match_data.py:580-611, demo/matcher.csv:1). Invariants:

- every string appears exactly once (partition semantics);
- the group label is the member with the highest count, ties broken by the
  lexicographically smallest string (match_data.py:163, :229, :355) —
  re-elected by a window after every mutation;
- uniting is transitive by construction (match_data.py:244-315) — implemented
  as distributed connected components, not sequential dict rewrites.

All "mutations" return new MatchData objects (DataFrames are immutable, which
gives us the reference's ``copy`` for free — match_data.py:76-83).
"""

from __future__ import annotations

from typing import Callable, Iterable, Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nama_spark.operators.block import exact_key_edges
from nama_spark.operators.cluster import _quotient_edges, connected_components
from nama_spark.session import local_frame

def _label_window():
    return (
        Window.partitionBy("group")
        .orderBy(F.col("count").desc(), F.col("string").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )


def elect_labels(df: DataFrame) -> DataFrame:
    """Re-elect canonical group labels: max count, ties → min string
    (match_data.py:163). One window over the group key. The driver fold's
    twin, ``delta_fold.elect_labels``, keeps the same tie order.

    Round 6 note: an arg-min aggregate + self-join variant (map-side
    combinable, AQE-skew-splittable) was built, measured equal at bench
    scale, and REJECTED: annotating rows with a per-group aggregate via a
    self-join references the input plan twice, and this function runs
    inside ``MatchData.__init__`` over arbitrary, often unpinned plans —
    doubling any expensive upstream chain per action is a worse scale
    hazard than the window's single sorted pass (giant components are
    already bounded by the unite_similar giant-component guard)."""
    return df.withColumn("group", F.first("string").over(_label_window()))


class MatchData:
    """Immutable wrapper over a (string, count, group) DataFrame."""

    def __init__(self, df: DataFrame, _relabel: bool = True):
        cols = {"string", "count", "group"}
        if not cols.issubset(set(df.columns)):
            raise ValueError(f"MatchData df must have columns {cols}, got {df.columns}")
        df = df.select(
            F.col("string").cast("string"),
            F.col("count").cast("long"),
            F.col("group").cast("string"),
        ).where(F.col("string").isNotNull())
        self.df = elect_labels(df) if _relabel else df

    # ---------- constructors (match_data.py:701-822 from_df) ----------

    @staticmethod
    def from_unmatched(df: DataFrame, string_col: str = "string",
                       count_col: str | None = None) -> "MatchData":
        """'unmatched' layout: every string a singleton; counts accumulated
        (match_data.py:781-787)."""
        count = F.col(count_col) if count_col and count_col in df.columns else F.lit(1)
        base = (
            df.select(F.col(string_col).alias("string"), count.cast("long").alias("count"))
            .groupBy("string")
            .agg(F.sum("count").alias("count"))
        )
        return _singletons(base)

    @staticmethod
    def from_groups(df: DataFrame, string_col: str = "string",
                    group_col: str = "group", count_col: str | None = None) -> "MatchData":
        """'groups' layout: trust the given partition, re-elect labels
        (match_data.py:789-809; labels are cosmetic — §1.1 of SURVEY.md)."""
        count = F.col(count_col) if count_col and count_col in df.columns else F.lit(1)
        base = (
            df.select(
                F.col(string_col).alias("string"),
                count.cast("long").alias("count"),
                F.col(group_col).alias("group"),
            )
            .groupBy("string")
            .agg(F.sum("count").alias("count"), F.min("group").alias("group"))
        )
        return MatchData(base)

    @staticmethod
    def from_pairs(df: DataFrame, col0: str = "string0", col1: str = "string1",
                   **cc_kwargs) -> "MatchData":
        """'pairs' layout: each row unites two strings; the partition is the
        transitive closure (match_data.py:811-820) = connected components."""
        nodes = (
            df.select(F.col(col0).alias("string"))
            .union(df.select(F.col(col1).alias("string")))
            .groupBy("string")
            .agg(F.count(F.lit(1)).alias("count"))
        )
        return _singletons(nodes).unite(df.select(col0, col1), **cc_kwargs)

    @staticmethod
    def detect(
        df: DataFrame,
        pair_columns: tuple = ("string0", "string1"),
        string_col: str = "string",
        group_col: str | None = "group",
        **kwargs,
    ) -> "MatchData":
        """Schema-dispatch mirroring from_df(match_format='detect')
        (match_data.py:757-774) EXACTLY, including its refusal rule
        (match_data.py:773-774): a layout that does not match a single
        format RAISES instead of silently preferring one. As in the
        reference: the string column is probed first (so {string, group}
        wins even if pair columns are also present); 'pairs' requires the
        columns to be EXACTLY the pair columns (extra columns refuse); and
        'unmatched' must be requested explicitly via ``group_col=None`` — a
        bare string column without the group column is ambiguous and
        refuses."""
        cols = set(df.columns)
        if string_col in cols:
            if group_col is None:
                return MatchData.from_unmatched(
                    df,
                    string_col=string_col,
                    count_col="count" if "count" in cols else None,
                )
            if group_col in cols:
                return MatchData.from_groups(
                    df,
                    string_col=string_col,
                    group_col=group_col,
                    count_col="count" if "count" in cols else None,
                )
        elif cols == set(pair_columns):
            return MatchData.from_pairs(df, *pair_columns, **kwargs)
        raise ValueError(
            f"could not infer a match format from columns {sorted(cols)} "
            f"(match_data.py:773-774 parity): expected {{{string_col}, "
            f"{group_col}}} for 'groups', exactly {sorted(pair_columns)} for "
            f"'pairs', or pass group_col=None to read a bare "
            f"'{string_col}' column as 'unmatched'"
        )

    # ---------- inspection ----------

    def strings(self) -> DataFrame:
        return self.df.select("string")

    def groups_df(self) -> DataFrame:
        """(group, size, count_sum) per group."""
        return self.df.groupBy("group").agg(
            F.count(F.lit(1)).alias("size"), F.sum("count").alias("count_sum")
        )

    def matched_to(self, strings: Iterable[str]) -> DataFrame:
        """All members of the groups containing the given strings
        (match_data.py:53-91 __getitem__/groups fetch) — a semi-join on group."""
        target_groups = self.df.where(F.col("string").isin(list(strings))).select("group")
        return self.df.join(target_groups.distinct(), "group", "left_semi")

    # ---------- row ops (match_data.py:93-201, 558-578) ----------

    def add_strings(self, other: DataFrame, string_col: str = "string",
                    count_col: str | None = None) -> "MatchData":
        """Insert strings as singletons, accumulating counts
        (match_data.py:93-130). Existing group assignments are preserved.
        The driver fold's twin is ``delta_fold.add_strings``."""
        count = (
            F.col(count_col) if count_col and count_col in other.columns else F.lit(1)
        )
        incoming = (
            other.select(F.col(string_col).alias("string"), count.cast("long").alias("count"))
            .groupBy("string")
            .agg(F.sum("count").alias("count"))
        )
        merged = (
            self.df.select("string", F.col("count").alias("c0"), "group")
            .join(incoming.select("string", F.col("count").alias("c1")), "string", "full")
            .select(
                "string",
                (F.coalesce("c0", F.lit(0)) + F.coalesce("c1", F.lit(0))).alias("count"),
                F.coalesce("group", F.col("string")).alias("group"),
            )
        )
        return MatchData(merged)

    def drop(self, strings: Iterable[str] | DataFrame) -> "MatchData":
        """Remove strings; remnant groups re-elect labels (match_data.py:132-180)."""
        out = self.df.join(_strings_df(self.df, strings), "string", "left_anti")
        return MatchData(out)

    def keep(self, strings: Iterable[str] | DataFrame) -> "MatchData":
        """Restrict to the given strings (match_data.py:182-201) — a semi-join."""
        out = self.df.join(_strings_df(self.df, strings), "string", "left_semi")
        return MatchData(out)

    def reset_counts(self, to: int = 1) -> "MatchData":
        """Set all counts (match_data.py:558-578)."""
        return MatchData(self.df.withColumn("count", F.lit(to).cast("long")))

    # ---------- partition ops ----------

    def unite(self, arg, **cc_kwargs) -> "MatchData":
        """Polymorphic merge (match_data.py:244-315): accepts

        - a Column expression / callable(Column)→Column — the hash-collision
          pass: strings with equal key are united (match_data.py:284-287);
        - a list of strings (one new group) or nested lists;
        - a mapping string→label;
        - a DataFrame of (string0, string1) pair edges;
        - another MatchData (union of both partitions' closures).

        Implementation: build edge rows, add the current partition's own
        string↔group edges, run one connected-components pass, re-elect labels.
        Transitivity is inherent (match_data.py:244-315).
        """
        df = self.df
        if callable(arg) and not isinstance(arg, Column):
            arg = arg(F.col("string"))
        if isinstance(arg, Column):
            # NULL and empty keys leave a string a singleton (block.py)
            edges = exact_key_edges(df, arg).select("src", "dst")
        elif isinstance(arg, MatchData):
            edges = arg.df.select(
                F.col("string").alias("src"), F.col("group").alias("dst")
            )
        elif isinstance(arg, DataFrame):
            c0, c1 = arg.columns[:2]
            edges = arg.select(
                F.col(c0).cast("string").alias("src"),
                F.col(c1).cast("string").alias("dst"),
            )
        elif isinstance(arg, Mapping):
            edges = local_frame(
                df.sparkSession,
                [(s, f"\0label:{v}") for s, v in arg.items()],
                "src string, dst string",
            )
        elif isinstance(arg, Iterable):
            items = list(arg)
            rows = []
            if items and isinstance(items[0], (list, tuple, set)):
                for grp in items:
                    grp = sorted(grp)
                    rows += [(s, grp[0]) for s in grp[1:]]
            else:
                items = sorted(items)
                rows = [(s, items[0]) for s in items[1:]]
            edges = local_frame(df.sparkSession, rows, "src string, dst string")
        else:
            raise TypeError(f"cannot unite with {type(arg)}")

        own = df.select(F.col("string").alias("src"), F.col("group").alias("dst"))
        all_edges = own.union(edges)
        # Direct left join against the component map: every string appears
        # exactly once in df (partition invariant) and every edge endpoint
        # that matters is a universe string, so labels_for_nodes' extra
        # distinct-universe shuffle + second join add nothing here — strings
        # outside the component map keep their own label via the coalesce
        # (round 6, guide §2.1: one full universe shuffle removed from every
        # unite). Synthetic label nodes (mapping case) land only on the
        # comp side of the left join and drop out, as before.
        comp = connected_components(all_edges, src="src", dst="dst", **cc_kwargs)
        out = df.join(comp, df["string"] == comp["node"], "left").select(
            "string", "count",
            F.coalesce(F.col("component"), F.col("string")).alias("group"),
        )
        # Synthetic label nodes (mapping case) can win the component min —
        # strip them by re-electing real labels from member strings (labels
        # are cosmetic; the constructor re-elects).
        return MatchData(out)

    def unite_incremental(self, edges: DataFrame, **cc_kwargs) -> "MatchData":
        """``unite(edges)`` for an edge batch that touches few groups — the
        incremental contract: self = the previous partition plus the new
        singletons (as built by ``add_strings``), and every edge touches a
        new or re-delivered string.

        Runs connected components on the GROUP-QUOTIENT graph — edge
        endpoints contracted to their group label in ``self`` (strings
        outside the universe map to themselves) — then relabels only the
        touched rows and re-elects labels only inside merged components.
        Untouched groups are fixed points of the closure, so the result
        equals ``unite(edges)`` row-for-row (label election is deterministic
        per group), but the CC and the relabel window are O(Δ-touched), not
        O(universe): the per-micro-batch cost the streaming ER path needs
        (equality-tested in tests/test_matchdata.py). Endpoints map through
        self's labels, not the previous partition's: add_strings has
        already re-elected them, and a re-delivered string whose count bump
        moved its group's label would otherwise miss the component map.
        ``delta_fold.unite_incremental`` is the driver fold's twin of this
        rule; a change here changes there too."""
        c0, c1 = edges.columns[:2]
        qe = _quotient_edges(edges, c0, c1, self.df.select("string", "group"))
        comp = connected_components(qe, **cc_kwargs)
        merged = self.df.join(
            comp.select(
                F.col("node").alias("group"), F.col("component").alias("__c")
            ),
            "group", "left",
        )
        untouched = merged.where(F.col("__c").isNull()).select(
            "string", "count", "group"
        )
        touched = elect_labels(
            merged.where(F.col("__c").isNotNull()).select(
                "string", "count", F.col("__c").alias("group")
            )
        )
        return MatchData(untouched.unionByName(touched), _relabel=False)

    def split(self, strings: Iterable[str]) -> "MatchData":
        """Break the given strings out into singletons; remnants re-elect labels
        (match_data.py:320-370). Singleton and remnant keys live in disjoint
        namespaces: a split string that WAS its group's label must not share
        a key with the remnants still carrying that label (relabeling would
        silently re-merge them). The prefixes are cosmetic — the constructor
        re-elects real member-string labels."""
        s = [str(x) for x in strings]
        out = self.df.withColumn(
            "group",
            F.when(
                F.col("string").isin(s), F.concat(F.lit("s|"), F.col("string"))
            ).otherwise(F.concat(F.lit("g|"), F.col("group"))),
        )
        return MatchData(out)

    def split_all(self) -> "MatchData":
        """Everything a singleton (match_data.py:372-393)."""
        return _singletons(self.df)

    def __add__(self, other: "MatchData") -> "MatchData":
        """Union of two MatchDatas: add strings then unite by the other's
        groups (match_data.py:64-69)."""
        combined = (
            self.df.select("string", "count")
            .unionByName(other.df.select("string", "count"))
            .groupBy("string")
            .agg(F.sum("count").alias("count"))
        )
        edges = self.df.select("string", "group").union(
            other.df.select("string", "group")
        )
        return _singletons(combined).unite(edges)

    # ---------- output (match_data.py:580-627) ----------

    def to_df(self, singletons: bool = True, sort_groups: bool = True) -> DataFrame:
        """(string, count, group), optionally group-size sorted
        (match_data.py:604-609: group_count desc, group, count desc, string)."""
        df = self.df
        gw = Window.partitionBy("group")
        df = df.withColumn("__gc", F.sum("count").over(gw)).withColumn(
            "__gs", F.count(F.lit(1)).over(gw)
        )
        if not singletons:
            df = df.where(F.col("__gs") > 1)
        if sort_groups:
            df = df.orderBy(
                F.col("__gc").desc(), F.col("group"), F.col("count").desc(), F.col("string")
            )
        return df.drop("__gc", "__gs")

    # ---------- relational join through the partition ----------

    def merge_dfs(
        self,
        left: DataFrame,
        right: DataFrame,
        left_on: str,
        right_on: str,
        how: str = "inner",
        suffixes: tuple[str, str] = ("_x", "_y"),
    ) -> DataFrame:
        """Equi-join two DataFrames on *match group* instead of raw strings
        (match_data.py:629-698): both sides map their key through the
        partition, then join on the group. The group map is typically small →
        Catalyst broadcasts it; the big-big join stays a plain equi-join."""
        gmap = self.df.select("string", F.col("group").alias("match_group"))
        lcols = set(left.columns)
        rcols = set(right.columns)
        for c in lcols & rcols:
            left = left.withColumnRenamed(c, c + suffixes[0])
            right = right.withColumnRenamed(c, c + suffixes[1])
            if left_on == c:
                left_on = c + suffixes[0]
            if right_on == c:
                right_on = c + suffixes[1]
        lk = left.join(gmap, left[left_on] == gmap["string"], "left").drop("string")
        rk = right.join(gmap, right[right_on] == gmap["string"], "left").drop("string")
        return lk.join(rk, "match_group", how)


def _singletons(counts: DataFrame) -> MatchData:
    """Every (string, count) row its own group."""
    return MatchData(counts.withColumn("group", F.col("string")), _relabel=False)


def _strings_df(like: DataFrame, strings) -> DataFrame:
    if isinstance(strings, DataFrame):
        c = strings.columns[0]
        return strings.select(F.col(c).alias("string"))
    return local_frame(
        like.sparkSession, [(str(s),) for s in strings], "string string"
    )


def diff_partitions(a, b) -> DataFrame:
    """Audit the change between two partitions of (a superset of) the
    same string universe — the model-upgrade review surface: which
    clusters survived a re-run verbatim, which broke apart, which
    absorbed others. Accepts MatchData or any (string, group) DataFrame.

    Per-string output (string, group_a, group_b, na, nb, nab, status):
    na/nb = the string's cluster size in each partition, nab = size of
    the intersection cell both agree on. Status, decided by pure
    cardinality arithmetic on those three groupBy counts (no pairwise
    expansion — a cluster of 10⁶ strings contributes rows, never
    pairs):

      stable    the a-cluster and b-cluster are the SAME string set
      split     the a-cluster broke into smaller b-cells (nab < na,
                b-cell no bigger than the intersection)
      merged    the b-cluster absorbed the whole a-cell plus others
      regrouped both boundaries moved (partial overlap on both sides)

    Strings present in only one partition surface with status
    'only_a' / 'only_b' (outer join; the absent side's columns null)."""
    da = (a.df if hasattr(a, "df") else a).select(
        "string", F.col("group").alias("group_a")
    )
    db = (b.df if hasattr(b, "df") else b).select(
        "string", F.col("group").alias("group_b")
    )
    j = da.join(db, "string", "full").localCheckpoint(eager=False)
    na = j.where(F.col("group_a").isNotNull()).groupBy("group_a").agg(
        F.count(F.lit(1)).alias("na")
    )
    nb = j.where(F.col("group_b").isNotNull()).groupBy("group_b").agg(
        F.count(F.lit(1)).alias("nb")
    )
    nab = (
        j.where(F.col("group_a").isNotNull() & F.col("group_b").isNotNull())
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("nab"))
    )
    out = (
        j.join(na, "group_a", "left")
        .join(nb, "group_b", "left")
        .join(nab, ["group_a", "group_b"], "left")
    )
    status = (
        F.when(F.col("group_a").isNull(), F.lit("only_b"))
        .when(F.col("group_b").isNull(), F.lit("only_a"))
        .when((F.col("na") == F.col("nab")) & (F.col("nb") == F.col("nab")),
              F.lit("stable"))
        .when((F.col("na") > F.col("nab")) & (F.col("nb") == F.col("nab")),
              F.lit("split"))
        .when((F.col("na") == F.col("nab")) & (F.col("nb") > F.col("nab")),
              F.lit("merged"))
        .otherwise(F.lit("regrouped"))
    )
    return out.select(
        "string", "group_a", "group_b",
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
        F.col("nab").cast("long").alias("nab"),
        status.alias("status"),
    )
