"""Tests for tools/jfr_phases.py on a small canned `jfr print` dump.

    python3 -m unittest discover -s tools/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import jfr_phases  # noqa: E402

STREAM = "stream execution thread for payments_stream-d0 [id = 1, runId = 2]"
TASK = "Executor task launch worker for task 0.0 in stage 3.0 (TID 12)"


def event(thread, frames):
    return ["jdk.ExecutionSample {", "  startTime = 23:47:51.342",
            f'  sampledThread = "{thread}" (javaThreadId = 7)', '  state = "STATE_RUNNABLE"',
            "  stackTrace = ["] + [f"    {f}" for f in frames] + ["  ]", "}", ""]


CANNED = (
    # graft's own analysis: the innermost owner frame is graft's
    event(STREAM, [
        "org.apache.spark.sql.catalyst.trees.TreeNode.transformDown(PartialFunction) line: 480",
        "org.apache.spark.sql.catalyst.analysis.Analyzer$ResolveReferences$.apply(LogicalPlan) line: 1530",
        "org.apache.spark.sql.catalyst.rules.RuleExecutor.execute(TreeNode) line: 222",
        "graft.ops.PaymentOps$.jsonDecode(Dataset) line: 71",
        "graft.streaming.StreamingOps$.$anonfun$paymentsFanout$1(Dataset, long) line: 290",
        "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution.runBatch(SparkSession) line: 900",
    ])
    # a harness sink called from graft's foreachBatch body, in codegen
    + event(STREAM, [
        "org.codehaus.janino.UnitCompiler.compile(Java$CompilationUnit) line: 100",
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$.doCompile(CodeAndComment) line: 1500",
        "org.apache.spark.sql.catalyst.optimizer.ColumnPruning$.apply(LogicalPlan) line: 1",
        "perfbench.Main$.$anonfun$stream$5(String, Dataset, long) line: 255",
        "graft.streaming.StreamingOps$.$anonfun$paymentsFanout$1(Dataset, long) line: 295",
    ])
    # Spark's own file listing: the innermost phase frame wins
    + event(STREAM, [
        "java.lang.Object.<init>()",
        "org.apache.hadoop.conf.Configuration.<init>(Configuration) line: 830",
        "org.apache.spark.sql.execution.streaming.runtime.FileStreamSource.fetchAllFiles() line: 300",
        "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution.runBatch(SparkSession) line: 900",
    ])
    + event(STREAM, ["java.lang.Thread.run() line: 840"])
    # a task inside a whole-stage codegen stage, below an interpreted operator
    + event(TASK, [
        "graft.functions.PaymentJsonKernel$.decode(UTF8String) line: 40",
        "org.apache.spark.sql.catalyst.expressions.GeneratedClass$GeneratedIteratorForCodegenStage1.processNext()",
        "org.apache.spark.sql.execution.BufferedRowIterator.hasNext() line: 43",
        "org.apache.spark.sql.execution.WholeStageCodegenEvaluatorFactory$WholeStageCodegenPartitionEvaluator$$anon$1.hasNext() line: 50",
    ])
    + event(TASK, [
        "org.apache.spark.sql.catalyst.expressions.Inline.eval(InternalRow) line: 400",
        "org.apache.spark.sql.execution.GenerateExec.$anonfun$doExecute$8(GenerateExec, InternalRow) line: 90",
    ])
    + event(TASK, [
        "org.apache.spark.sql.execution.datasources.v2.WriteToDataSourceV2Exec.run() line: 40",
    ])
    + event(TASK, ["java.io.FileInputStream.readBytes(byte[], int, int)"])
    + event("Spark Context Cleaner", ["java.lang.Object.wait(long)"])
)


class JfrPhasesTest(unittest.TestCase):
    def setUp(self):
        self.threads, self.driver, self.executor = jfr_phases.tables(CANNED)

    def test_every_sample_is_parsed_with_its_frames(self):
        parsed = list(jfr_phases.samples(CANNED))
        self.assertEqual(len(parsed), 9)
        self.assertEqual(parsed[2][1][0], "java.lang.Object.<init>")
        self.assertEqual(parsed[2][1][1], "org.apache.hadoop.conf.Configuration.<init>")

    def test_thread_classes(self):
        self.assertEqual(dict(self.threads),
                         {"stream execution thread": 4, "executor task": 4, "other": 1})

    def test_driver_owner_and_phase_come_from_the_innermost_matching_frame(self):
        self.assertEqual(dict(self.driver), {
            ("graft", "Analyzer"): 1,
            ("harness", "CodegenSupport/CodeGenerator"): 1,
            ("Spark", "Configuration.<init>"): 1,
            ("Spark", "other"): 1,
        })

    def test_executor_operator_is_the_innermost_stage_or_exec(self):
        self.assertEqual(dict(self.executor), {
            "WholeStageCodegen stage": 1, "GenerateExec": 1,
            "WriteToDataSourceV2Exec": 1, "(no operator)": 1,
        })

    def test_render_prints_the_three_tables(self):
        text = jfr_phases.render(self.threads, self.driver, self.executor)
        self.assertIn("samples per thread class (9 samples)", text)
        self.assertIn("| stream execution thread | 4       | 44.4 % |", text)
        self.assertRegex(text, r"\| Analyzer +\| 25\.0 % \| 0\.0 % +\| 0\.0 % +\| 25\.0 % +\|")
        self.assertIn("| GenerateExec ", text)


if __name__ == "__main__":
    unittest.main()
