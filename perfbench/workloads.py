"""The two benchmark workloads.

``interactive_match`` serves reference-sized uploads.  ``batch_pipeline`` is
the offline batch: one job links a username batch to a large roster
(blocked path), trains the pair classifier and finds near-duplicate
documents, one part after another.  Its three parts are the classes
``BulkLink``, ``TrainClassifier`` and ``NearDupDocs`` below.

Each workload generates its inputs from the seed (``gen.py``), hands the
engine only CSV files or DataFrames, and calls the engine's public
functions.  Every request is a closed loop with one client: the next
request starts when the previous one has returned.

A workload object provides:

* ``min_jobs`` — requests a run measures at least, whatever ``--seconds``
  says, so the sample count does not depend on the host's speed;
* ``warm(spark)`` — the warm-up that ends set-up;
* ``prepare(spark, i)`` — the inputs of request ``i`` (not timed);
* ``run(spark, inputs)`` — the timed request; returns its output;
* ``check(i, inputs, out)`` — whether the output is correct (not timed);
* ``quality()`` — the workload's quality metrics over the checked requests;
* ``traced(spark, i, inputs, tracer)`` — request ``i`` again, one public
  call at a time, each materialised inside its own span; returns the
  layer counts;
* ``text_pairs`` — sampled text pairs for the similarity microbenchmark;
* ``detail()`` (optional) — extra fields for the run's detail line.
"""

from __future__ import annotations

import csv
import random
import statistics
import time
from collections import Counter
from pathlib import Path

from pyspark.ml.evaluation import BinaryClassificationEvaluator, MulticlassClassificationEvaluator
from pyspark.sql import functions as F

from name_match_ml_spark.functions.scoring import SCORE_THRESHOLD, phonetic_codes_udf
from name_match_ml_spark.ml.pipeline import (
    build_pipeline,
    evaluation_report,
    pair_features,
    train_match_classifier,
)
from name_match_ml_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs, simhash_pairs
from name_match_ml_spark.operators.matching import (
    format_output,
    match_usernames,
    prepare_employees,
    prepare_usernames,
    score_candidates,
)
from name_match_ml_spark.plans.blocking import blocked_candidates
from name_match_ml_spark.sources.csv import employees_from_df, load_employees, load_usernames
from name_match_ml_spark.sources.sinks import save_csv

import gen
from oracle import MatchOracle

E_TEXT = ["e_name", "e_first", "e_last"]
ROSTER_HEADER = ("EMP_ID", "First_Name", "Last_Name")


def _write(path: Path, data: bytes) -> Path:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data)
    return path


def _read_csv_dir(path: Path) -> list[tuple[str, ...]]:
    rows = []
    for part in sorted(path.glob("part-*.csv")):
        with open(part, newline="") as f:
            rows.extend(tuple(r) for r in list(csv.reader(f))[1:])
    return rows


def _sample_pairs(seed, pairs: list[tuple[str, str]], k: int = 200) -> list[tuple[str, str]]:
    rng = random.Random(f"sample:{seed}")
    return rng.sample(pairs, min(k, len(pairs)))


def _distinct_texts(u, e):
    """The distinct username and roster texts ``match_usernames`` scores,
    with their phonetic codes, built from the public prepare functions."""
    ut = u.select("u_norm", "u_part1", "u_part2").dropDuplicates(["u_norm"])
    c = phonetic_codes_udf(F.col("u_norm"))
    ut = ut.select("*", c.getField("sdx").alias("u_sdx"), c.getField("mp").alias("u_mp"))
    et = e.select(*E_TEXT).dropDuplicates(E_TEXT)
    fc, lc = phonetic_codes_udf(F.col("e_first")), phonetic_codes_udf(F.col("e_last"))
    et = et.select(
        "*",
        fc.getField("sdx").alias("f_sdx"),
        fc.getField("mp").alias("f_mp"),
        lc.getField("sdx").alias("l_sdx"),
        lc.getField("mp").alias("l_mp"),
    )
    return ut.localCheckpoint(), et.localCheckpoint()


class _Matching:
    """What ``interactive_match`` and the linkage part of ``batch_pipeline``
    share: the oracle, the traced decomposition of ``match_usernames`` and
    the pair bookkeeping."""

    blocked = False

    def __init__(self, seed, people):
        self.seed = seed
        self.people = people
        self.oracle = MatchOracle(people)
        self.recall_hits = 0
        self.recall_total = 0
        self.seen_users: set[str] = set()
        self.recall_sample = gen.usernames(f"{seed}.sample", people, 40)
        e_names = sorted({f"{f} {l}".lower() for _, f, l in people})
        self.text_pairs = _sample_pairs(
            seed, [(u.lower().strip(), n) for u in self.recall_sample for n in e_names[:50]]
        )

    def recall(self, usernames: list[str], got: dict[str, set[str]]) -> None:
        """Add the oracle's top-4 matches of ``usernames`` and how many of
        them the engine returned (``got``: username → returned emp ids)."""
        self.oracle.prefetch(usernames)
        for u in usernames:
            want = {e for e, _, _, _ in self.oracle.top(u)}
            self.recall_total += len(want)
            self.recall_hits += len(want & got.get(u, set()))

    def match_recall(self) -> float:
        return self.recall_hits / self.recall_total if self.recall_total else 1.0

    def note_users(self, inp: dict) -> dict:
        """Record which username texts earlier requests of the run carried.
        The roster is fixed and candidates depend only on the two texts, so
        a candidate pair was scored before exactly when its username text
        was."""
        inp["seen_users"] = frozenset(self.seen_users)
        self.seen_users.update(u.lower().strip() for u in inp["usernames"])
        return inp

    def traced_match(self, inp, u, e, tracer):
        """``match_usernames`` one layer at a time: prepare, phonetic codes,
        candidates, scoring, then the whole match (materialised)."""
        with tracer.span("matching.prepare"):
            pu = prepare_usernames(u, codes=False).localCheckpoint()
            pe = prepare_employees(e, codes=False).localCheckpoint()
        n_rows = pu.count() + pe.count()
        with tracer.span("scoring.phonetic"):
            ut, et = _distinct_texts(pu, pe)
        n_ut, n_et = ut.count(), et.count()
        if self.blocked:
            with tracer.span("blocking.candidates"):
                pairs = blocked_candidates(ut, et, broadcast_employees=True).localCheckpoint()
        else:
            pairs = ut.crossJoin(F.broadcast(et))
        with tracer.span("scoring.score"):
            scored = score_candidates(pairs).select("u_norm", *E_TEXT, "score").localCheckpoint()
        per_user = scored.groupBy("u_norm").count().collect()
        n_pairs = sum(r["count"] for r in per_user)
        repeats = sum(r["count"] for r in per_user if r.u_norm in inp["seen_users"])
        useful = scored.filter(F.col("score") >= SCORE_THRESHOLD).count()
        with tracer.span("matching.match"):
            m = match_usernames(u, e).localCheckpoint()
        out = m.select("match_type").collect()
        layers = {
            "matching.distinct_share": (n_ut + n_et) / n_rows,
            "matching.output_rows": len(out),
            "matching.not_found_rows": sum(r.match_type == "USER NOT FOUND" for r in out),
            "scoring.scored_pairs": n_pairs,
            "scoring.pairs": n_pairs,
            "scoring.repeat_pairs": repeats,
        }
        if self.blocked:
            layers["blocking.candidate_pairs"] = n_pairs
            layers["blocking.pair_share"] = n_pairs / (n_ut * n_et)
            layers["blocking.useful_share"] = useful / n_pairs
        return layers, m


class InteractiveMatch(_Matching):
    """Reference-sized uploads: a fixed 153-row roster CSV and a fresh CSV of
    109 usernames per request, through load → match → format → save."""

    name = "interactive_match"
    min_jobs = 2
    n_users = 109

    def __init__(self, seed, work: Path):
        super().__init__(seed, gen.roster(seed, 153, 90, 70, distinct=130))
        self.work = work
        self.emp_csv = _write(work / "employees.csv", gen.to_csv(ROSTER_HEADER, self.people))

    def _request(self, tag, n) -> dict:
        names = gen.usernames(f"{self.seed}.{tag}", self.people, n)
        d = self.work / f"req-{tag}"
        return {
            "usernames": names,
            "csv": str(_write(d / "usernames.csv", gen.to_csv(("username",), names))),
            "out": str(d / "out"),
            "rows": n,
        }

    def warm(self, spark) -> None:
        self.run(spark, self._request("warm", 20))

    def prepare(self, spark, i) -> dict:
        return self.note_users(self._request(i, self.n_users))

    def run(self, spark, inp):
        e = load_employees(spark, str(self.emp_csv))
        u = load_usernames(spark, inp["csv"])
        save_csv(format_output(match_usernames(u, e)), inp["out"], single_file=True)
        return inp["out"]

    def check(self, i, inp, out) -> bool:
        # A seeded third of the requests (always the first) against the oracle.
        if i > 0 and random.Random(f"check:{self.seed}:{i}").random() >= 1 / 3:
            return True
        got = _read_csv_dir(Path(out))
        self.oracle.prefetch(inp["usernames"])
        want = [r for u in inp["usernames"] for r in self.oracle.output_rows(u)]
        ids: dict[str, set[str]] = {}
        for u, emp_id, _, _, match_type in got:
            if match_type != "USER NOT FOUND":
                ids.setdefault(u, set()).add(emp_id)
        self.recall(sorted(set(inp["usernames"])), ids)
        return Counter(got) == Counter(want)

    def quality(self) -> dict[str, float]:
        return {"match_recall": self.match_recall()}

    def traced(self, spark, i, inp, tracer) -> dict[str, float]:
        with tracer.span("sources.load"):
            e = load_employees(spark, str(self.emp_csv)).localCheckpoint()
            u = load_usernames(spark, inp["csv"]).localCheckpoint()
        layers, m = self.traced_match(inp, u, e, tracer)
        with tracer.span("sinks.write"):
            save_csv(format_output(m), inp["out"] + "-traced", single_file=True)
        return layers


class BulkLink(_Matching):
    """The linkage part of ``batch_pipeline``: a few thousand roster rows with Zipf-repeated names and
    a fresh batch of usernames per job, as DataFrames.  The pair product
    exceeds the engine's cross-product budget, so ``match_usernames``
    auto-selects blocked candidates."""

    name = "bulk_link"
    blocked = True
    n_roster = 9000
    n_users = 450

    def __init__(self, seed, work: Path):
        super().__init__(seed, gen.roster(seed, self.n_roster, 30, 30))
        self.roster_df = None

    def _roster(self, spark):
        if self.roster_df is None or self.roster_df.sparkSession is not spark:
            raw = spark.createDataFrame(self.people, list(ROSTER_HEADER))
            self.roster_df = employees_from_df(raw)
        return self.roster_df

    def _batch(self, spark, names):
        return spark.createDataFrame(list(enumerate(names)), "input_id long, username string")

    def prepare(self, spark, i) -> dict:
        # Request 0 carries the recall sample, so the oracle covers it.
        names = gen.usernames(f"{self.seed}.{i}", self.people, self.n_users)
        if i == 0:
            names = self.recall_sample + names[len(self.recall_sample):]
        return self.note_users(
            {"usernames": names, "df": self._batch(spark, names), "roster": self._roster(spark),
             "rows": len(names)}
        )

    def run(self, spark, inp):
        return match_usernames(inp["df"], inp["roster"]).collect()

    def is_blocked(self, inp) -> bool:
        """Whether auto-select picked the blocked path (its join key shows
        in the optimized plan)."""
        plan = match_usernames(inp["df"], inp["roster"])._jdf.queryExecution().optimizedPlan()
        return "_bkey" in plan.toString()

    def check(self, i, inp, out) -> bool:
        ids: dict[int, set[str]] = {}
        for r in out:
            ids.setdefault(r.input_id, set())
            if r.match_type != "USER NOT FOUND":
                ids[r.input_id].add(r.emp_id)
        every_row = set(ids) == set(range(len(inp["usernames"])))
        if i == 0:
            got = {inp["usernames"][k]: ids.get(k, set()) for k in range(len(self.recall_sample))}
            self.recall(self.recall_sample, got)
            return every_row and self.is_blocked(inp)
        return every_row

    def quality(self) -> dict[str, float]:
        return {"match_recall": self.match_recall()}

    def traced(self, spark, i, inp, tracer) -> dict[str, float]:
        layers, _ = self.traced_match(inp, inp["df"], inp["roster"], tracer)
        return layers


class TrainClassifier:
    """The training part of ``batch_pipeline``, the paper's second
    computation: 5k FIXTURES.md §C labelled pairs per job through ``train_match_classifier`` (100 trees, seed 32) and
    ``evaluation_report``."""

    name = "train_classifier"
    n_pairs = 5_000
    min_quality = 0.85  # the bar q_ml_train_eval uses

    def __init__(self, seed, work: Path):
        self.seed = seed
        self.people = gen.roster(seed, 153, 90, 70)
        self.accuracy: list[float] = []
        self.auc: list[float] = []
        self.seen_pairs: set[tuple[str, str]] = set()
        sample = gen.labelled_pairs(f"{seed}.sample", 400, self.people)
        self.text_pairs = _sample_pairs(seed, [(u, n) for _, u, n, _ in sample])

    def _pairs(self, spark, tag, n):
        rows = gen.labelled_pairs(f"{self.seed}.{tag}", n, self.people)
        df = spark.createDataFrame(rows, "id long, username string, employee_name string, label int")
        return {"pairs": rows, "df": df, "rows": n}

    def prepare(self, spark, i) -> dict:
        inp = self._pairs(spark, i, self.n_pairs)
        # Text pairs already seen earlier in the run, this request included.
        inp["repeat_pairs"] = 0
        for _, u, n, _ in inp["pairs"]:
            inp["repeat_pairs"] += (u, n) in self.seen_pairs
            self.seen_pairs.add((u, n))
        return inp

    @staticmethod
    def _evaluate(pred):
        acc = MulticlassClassificationEvaluator(
            labelCol="label", predictionCol="prediction", metricName="accuracy"
        ).evaluate(pred)
        auc = BinaryClassificationEvaluator(
            labelCol="label", rawPredictionCol="rawPrediction", metricName="areaUnderROC"
        ).evaluate(pred)
        return acc, auc, evaluation_report(pred).collect()

    def run(self, spark, inp):
        _, pred = train_match_classifier(inp["df"])
        # Scored once, read by the two evaluators and the report.
        return self._evaluate(pred.localCheckpoint())

    def check(self, i, inp, out) -> bool:
        acc, auc, report = out
        self.accuracy.append(acc)
        self.auc.append(auc)
        return acc >= self.min_quality and auc >= self.min_quality and len(report) == 2

    def quality(self) -> dict[str, float]:
        return {
            "test_accuracy": statistics.median(self.accuracy) if self.accuracy else 0.0,
            "test_auc": statistics.median(self.auc) if self.auc else 0.0,
        }

    def traced(self, spark, i, inp, tracer) -> dict[str, float]:
        with tracer.span("ml.features"):
            featured = pair_features(inp["df"]).withColumn("label", F.col("label").cast("double"))
            featured = featured.localCheckpoint()
        train, test = featured.randomSplit([0.7, 0.3], seed=32)
        with tracer.span("ml.fit"):
            model = build_pipeline(num_trees=100, seed=32).fit(train)
        with tracer.span("ml.predict"):
            pred = model.transform(test).localCheckpoint()
        with tracer.span("ml.evaluate"):
            self._evaluate(pred)
        return {"scoring.pairs": inp["rows"], "scoring.repeat_pairs": inp["repeat_pairs"]}


class NearDupDocs:
    """The near-duplicate part of ``batch_pipeline``: a seeded corpus with
    planted near-duplicates through the three operators of
    ``operators.dedup``."""

    name = "near_dup_docs"
    n_docs = 1000
    n_planted = 100
    threshold = 0.7

    def __init__(self, seed, work: Path):
        self.seed = seed
        self.found = 0
        self.planted_total = 0

    def _corpus(self, spark, tag, n_docs, n_planted):
        docs, planted = gen.documents(f"{self.seed}.{tag}", n_docs, n_planted)
        df = spark.createDataFrame(docs, "doc_id long, text string")
        return {"df": df, "planted": planted, "rows": n_docs}

    def prepare(self, spark, i) -> dict:
        return self._corpus(spark, i, self.n_docs, self.n_planted)

    def run(self, spark, inp):
        df, t = inp["df"], self.threshold
        return (
            ngram_jaccard_pairs(df, threshold=t).collect(),
            minhash_lsh_pairs(df, threshold=t).collect(),
            simhash_pairs(df).collect(),
        )

    def check(self, i, inp, out) -> bool:
        ngram, minhash, _ = out
        want = {(a, b): j for a, b, j in inp["planted"] if j >= self.threshold}
        exact = {(r.doc_a, r.doc_b): r.jaccard for r in ngram}
        lsh = {(r.doc_a, r.doc_b) for r in minhash}
        self.planted_total += len(want)
        self.found += len(want.keys() & lsh)
        return all(p in exact and abs(exact[p] - j) < 1e-9 for p, j in want.items())

    def quality(self) -> dict[str, float]:
        return {"dedup_recall": self.found / self.planted_total if self.planted_total else 1.0}

    def traced(self, spark, i, inp, tracer) -> dict[str, float]:
        df, t = inp["df"], self.threshold
        with tracer.span("dedup.ngram"):
            ng = len(ngram_jaccard_pairs(df, threshold=t).collect())
        with tracer.span("dedup.minhash"):
            mh = len(minhash_lsh_pairs(df, threshold=t).collect())
        with tracer.span("dedup.simhash"):
            sh = len(simhash_pairs(df).collect())
        return {"dedup.ngram_pairs": ng, "dedup.minhash_pairs": mh, "dedup.simhash_pairs": sh}


class BatchPipeline:
    """The offline batch: each job runs the linkage, training and
    near-duplicate parts in turn, each on fresh inputs.  A job fails if any
    part fails its check; the quality metrics are the parts'."""

    name = "batch_pipeline"
    min_jobs = 1

    def __init__(self, seed, work: Path):
        self.seed = seed
        self.parts = (BulkLink(seed, work), TrainClassifier(seed, work), NearDupDocs(seed, work))
        # Kernel inputs: the name pairs; the kernels take no part in dedup.
        self.text_pairs = self.parts[0].text_pairs + self.parts[1].text_pairs
        self.part_s: dict[str, list[float]] = {p.name: [] for p in self.parts}

    def warm(self, spark) -> None:
        # The Python workers start and load the scoring UDFs; nothing more.
        # An offline batch runs once per application, so its users pay each
        # part's first-run cost every time: the timed job includes it.
        spark.createDataFrame([("ravi",)], "t string").select(phonetic_codes_udf(F.col("t"))).collect()

    def prepare(self, spark, i) -> dict:
        inps = [p.prepare(spark, i) for p in self.parts]
        return {"parts": inps, "rows": sum(x["rows"] for x in inps)}

    def run(self, spark, inp):
        outs = []
        for p, x in zip(self.parts, inp["parts"]):
            t0 = time.perf_counter()
            outs.append(p.run(spark, x))
            self.part_s[p.name].append(time.perf_counter() - t0)
        return outs

    def check(self, i, inp, out) -> bool:
        # Every part is checked, so each adds to its quality metric.
        return all([p.check(i, x, o) for p, x, o in zip(self.parts, inp["parts"], out)])

    def quality(self) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.quality().items()}

    def detail(self) -> dict:
        return {"part_s": self.part_s}

    def traced(self, spark, i, inp, tracer) -> dict[str, float]:
        layers: dict[str, float] = {}
        for p, x in zip(self.parts, inp["parts"]):
            for k, v in p.traced(spark, i, x, tracer).items():
                # Both the linkage and the feature UDF score text pairs.
                layers[k] = layers.get(k, 0) + v if k in ("scoring.pairs", "scoring.repeat_pairs") else v
        return layers


WORKLOADS = {w.name: w for w in (InteractiveMatch, BatchPipeline)}
