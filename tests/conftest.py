import uuid

import pytest


@pytest.fixture(scope="session")
def spark():
    from ethereum_raw_data_crawler_spark.session import get_spark

    s = get_spark(cores=8, shuffle_partitions=8, app_name="tests")
    yield s


@pytest.fixture(scope="session")
def t1_tables():
    from ethereum_raw_data_crawler_spark.sources import synth

    return synth.gen_all(synth.T1)


@pytest.fixture()
def bucket_stages(spark):
    """``count(n_buckets, fn)``: run ``fn`` in its own Spark job group and
    return how many of its stages ran ``n_buckets`` tasks — the signature
    of a seen filter's bucket-aligned maintenance job."""
    sc = spark.sparkContext

    def count(n_buckets, fn):
        group = f"fold-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "fold")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        infos = (
            st.getStageInfo(s)
            for j in st.getJobIdsForGroup(group)
            for s in st.getJobInfo(j).stageIds
        )
        return sum(i is not None and i.numTasks == n_buckets for i in infos)

    return count
