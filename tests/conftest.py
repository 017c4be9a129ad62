import pytest

from far_finer_airtable_firestore_sync_spark.conf import local_session


@pytest.fixture(scope="session")
def spark():
    # four cores on any host: the job and task counts tests pin follow
    # the shuffle width
    yield local_session("ffs-tests", cores=4)
