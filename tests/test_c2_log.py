"""tools/c2_log.py: C2 compile time by package from a HotSpot
compilation log (no JVM needed)."""

from tools import c2_log

LOG = """<hotspot_log version='160 1' process='7'>
<compilation_log thread='11'>
<start_compile_thread name='C1 CompilerThread0' thread='11' process='7' stamp='0.010'/>
<task compile_id='1' method='java.io.ObjectInputStream readObject ()Ljava/lang/Object;' level='3' stamp='0.100'>
<task_done success='1' nmsize='10' stamp='0.900'/>
</task>
</compilation_log>
<compilation_log thread='12'>
<start_compile_thread name='C2 CompilerThread0' thread='12' process='7' stamp='0.010'/>
<task compile_id='2' method='java.io.ObjectInputStream readObject ()Ljava/lang/Object;' stamp='1.000'>
<task_done success='1' nmsize='10' stamp='1.250'/>
</task>
<task compile_id='3' method='org.apache.spark.sql.catalyst.expressions.GeneratedClass$GeneratedIteratorForCodegenStage1 processNext ()V' stamp='2.000'>
<task_done success='1' nmsize='10' stamp='2.500'/>
</task>
<task compile_id='4' method='org.apache.spark.sql.catalyst.trees.TreeNode transformDown (Lscala/PartialFunction;)Lorg/apache/spark/sql/catalyst/trees/TreeNode;' compile_kind='osr' stamp='3.000'>
<task_done success='0' nmsize='0' stamp='3.125'/>
</task>
<task compile_id='5' method='java.util.concurrent.ConcurrentHashMap get (Ljava/lang/Object;)Ljava/lang/Object;' stamp='4.000'>
<task_done success='1' nmsize='10' stamp='4.001'/>
</task>
</compilation_log>
</hotspot_log>
"""


def test_only_c2_compiles_are_charged_to_their_group():
    by_group = {}
    for cls, s in c2_log.c2_tasks(LOG.splitlines()):
        g = c2_log.group_of(cls)
        by_group[g] = round(by_group.get(g, 0.0) + s, 6)
    # the C1 compile of readObject (0.8 s) is not counted
    assert by_group == {
        "Java serialization": 0.25,
        "generated classes": 0.5,
        "org.apache.spark.sql": 0.125,
        "java.util.concurrent": 0.001,
    }
